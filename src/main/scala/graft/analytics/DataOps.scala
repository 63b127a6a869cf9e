package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Cols
import graft.operators.{AsOfJoin, Classifier, Components, Curation, Gapfill, KCore, KMeans, LanguageModel, Multimodal, PageRank, Passages, RangeJoin, Redaction, Scd2, Sessionize, Similarity, Sketches, SpanDedup, TextAnalysis, TextDedup, TextFeatures}
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline query surface: dedup, similarity search, and
  * text analysis over the harness `documents` / `embeddings` tables
  * (SURVEY.md §7.4 north-star extensions — these are first-class
  * operators, not demos).
  *
  * Every oracle below replays the operator's exact algorithm in
  * DuckDB SQL — including the portable polynomial hashes and the
  * explicit left-fold FP order for dot products — so the hash gate
  * checks the whole pipeline, not a simplified proxy.
  */
object DataOps {

  // Shared DuckDB SQL fragments, mirrored 1:1 with the Spark operators.
  private val P = TextDedup.P
  /** DuckDB: portable char-fold word hash (= TextDedup.charFold).
    * greatest(len, 1): for an EMPTY token DuckDB's generate_series
    * returns [] but Spark's sequence counts DOWN ([1,0]) — the guard
    * folds over [ascii('')] = [0] instead, which is 0 on both engines,
    * the same value the bare empty fold produces. */
  private def dkWordHash(w: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, greatest(length($w), 1)), " +
      s"i -> CAST(ascii(substr($w, i, 1)) AS BIGINT))), (acc, x) -> (acc * 31 + x) % $P)"
  private val dkTokenHashes =
    s"list_transform(string_split(text, ' '), w -> ${dkWordHash("w")})"
  /** Whitespace-collapse normalization (= TextDedup.normalized), in
    * the shared dialect: split-on-runs + join IS the global
    * regexp_replace (DuckDB's 'g' flag parses as a position argument
    * in Spark, unbridgeable by name). chr(12) because Spark's string
    * parser drops the backslash from '\f' (measured — the class would
    * silently gain a literal 'f'); \t \n \r survive both parsers as
    * the intended control characters. */
  private val dkNormText =
    """array_to_string(regexp_split_to_array(lower(trim(text)), '[ \t\n' || chr(12) || '\r]+'), ' ')"""
  private val dkShingles =
    s"""CASE WHEN len(th) < 3 THEN list_slice(th, 1, 0) ELSE
       |  list_distinct(list_transform(generate_series(1, len(th) - 2),
       |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, i, i + 2)),
       |         (acc, h) -> (acc * 131 + h) % $P))) END""".stripMargin
  /** DuckDB: explicit-order dot product (= Similarity.dot). Shared
    * dialect (r12): the zip spells as index-aligned list_extract over
    * generate_series — same ascending fold, so the FP result is
    * bit-identical to the list_zip form on both engines. Callers
    * guarantee non-empty vectors (fixed-dim embeddings/slices);
    * Spark's sequence would DESCEND on an empty list (the documented
    * generate_series caveat). */
  private def dkDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($a)), " +
      s"i -> CAST(list_extract($a, i) AS DOUBLE) * CAST(list_extract($b, i) AS DOUBLE))), " +
      s"(acc, v) -> acc + v)"
  private def dkCosRaw(a: String, b: String): String =
    s"(${dkDot(a, b)} / (sqrt(${dkDot(a, a)}) * sqrt(${dkDot(b, b)})))"
  private def dkCos(a: String, b: String): String =
    s"floor((${dkDot(a, b)} / (sqrt(${dkDot(a, a)}) * sqrt(${dkDot(b, b)}))) * 1e6 + 0.5) / 1e6"

  /** Fixed seed for the production hyperplane family
    * ([[Similarity.gaussianPlanes]]) — one constant so the engine
    * queries and the oracle literals below can never drift. TESTDATA
    * embeddings are 64-dim at every scale factor. */
  private[analytics] val lshSeed = 42L
  private[analytics] val embDim = 64

  /** The seeded plane matrix as a DuckDB CTE body: integer-grid
    * literals divided by 1024 — every coordinate m/1024 is exactly
    * representable in float and double and round-trips through the
    * decimal literal, so both engines evaluate identical dot products
    * (see gaussianPlaneGrid). */
  private def dkSeededAnchors(nPlanes: Int): String = {
    val rows = graft.operators.Similarity.gaussianPlaneGrid(lshSeed, nPlanes, embDim)
      .zipWithIndex
      .map { case (g, i) => s"($i, list_value(${g.mkString(",")}))" }
      .mkString(", ")
    s"""SELECT rank, list_transform(grid, x -> CAST(x AS DOUBLE) / 1024) AS plane_vec
       |  FROM (VALUES $rows) t(rank, grid)""".stripMargin
  }

  // ---- dedup ---------------------------------------------------------

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    TextDedup.exactDedupSummary(Tables.documents(spark, dir))

  /** Exact all-pairs Jaccard via the MEASURED strategy dispatch
    * ([[TextDedup.jaccardPairsAdaptive]]): Σ df² over the shingle
    * index — exactly the candidate-row count the inverted-index
    * self-join would shuffle — picks thin co-occurrence counting
    * (modest-df corpora like the harness: max df ~25) or the
    * loss-less prefix-filtered form (hot-shingle corpora where df²
    * explodes). Both exact, identical pair sets; the prefix branch is
    * separately oracle-gated as `dedup_jaccard_prefix`. A third,
    * disk-bounded tier (banded-LSH prescreen + exact verify) engages
    * when even the prefix branch's MEASURED input volume (shingle-
    * index rows) exceeds the scratch budget — see
    * [[TextDedup.jaccardPairsAdaptive]]. */
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // dispatch statistic memoized per corpus (the embCount pattern):
    // one Σ df² aggregate job total across repeat catalog calls
    val fanout = jaccardFanoutMemo.getOrElseUpdate(dir, TextDedup.indexFanout(docs, n = 3))
    TextDedup.jaccardPairsAdaptive(docs, n = 3, threshold = 0.5, fanoutOpt = Some(fanout))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  private val jaccardFanoutMemo = new scala.collection.concurrent.TrieMap[String, Long]()

  /** The prefix-filtered strategy under its own oracle gate: the
    * hot-shingle branch of the adaptive dispatch above, hash-compared
    * against the SAME pair semantics as `dedup_jaccard` — the DuckDB
    * gate certifies that the AllPairs/ppjoin prefix filter is
    * loss-less for the threshold, not merely property-equal to the
    * index form on fixtures.
    *
    * 100 TB posture (r12): this is a CERTIFICATION entry — its exact
    * leg materializes the full shingle-set candidate shuffle, the one
    * plan shape that cannot run a decade up (sf100 ENOSPC, SCALE.md).
    * It now takes the [[lshPairRecall]] dispatch: above
    * [[RecallSampleThreshold]] docs, the certification runs over the
    * deterministic 1-in-[[RecallSampleMod]] sample `doc_id % mod = 1`
    * — loss-lessness is a per-pair property, so certifying it on a
    * fixed subgraph still falsifies a broken prefix filter, at
    * 1/mod² of the pair cost. The oracle replays the dispatch as a
    * scalar-subquery gate, so both branches sit under the hash gate;
    * at the oracle SFs the gate keeps the full corpus. */
  def dedupJaccardPrefix(spark: SparkSession, dir: String,
      sampleThreshold: Long = RecallSampleThreshold): DataFrame = {
    val all = Tables.documents(spark, dir)
    val docs = if (docCount(all, dir) <= sampleThreshold) all
      else all.filter(col("doc_id") % RecallSampleMod === 1)
    TextDedup.jaccardPairs(docs, n = 3, threshold = 0.5)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** Asymmetric containment screen (subset/quote detection) — the
    * direction-aware complement of dedup_jaccard, behind the SAME
    * measured Σ df² dispatch (shared per-corpus memo): thin
    * co-occurrence on modest-df corpora, the loss-less rarest-prefix
    * filter ([[TextDedup.containmentPairsPrefix]]) when df² explodes,
    * and the disk-bounded LSH-prescreen tier above the prefix budget;
    * C = |∩| / min(|A|,|B|). */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fanout = jaccardFanoutMemo.getOrElseUpdate(dir, TextDedup.indexFanout(docs, n = 3))
    TextDedup.containmentPairsAdaptive(docs, n = 3, threshold = 0.8, fanoutOpt = Some(fanout))
      .withColumn("n_sub", col("n_sub").cast("long"))
      .orderBy(col("doc_sub").asc, col("doc_sup").asc)
  }

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    TextDedup.pairGraph(Tables.documents(spark, dir),
        n = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** PRODUCTION-HASH MinHash-LSH path (xxHash64-mod-P token family —
    * the family a real 100 TB run would use). Hard-oracle-gated like
    * every other entry: the DuckDB mirror replays full xxHash64 in
    * HUGEINT arithmetic ([[dkFastTokCtes]] — 64-bit wraparound via
    * split multiplies, signed-view mod P), so the driver's
    * rows/schema/hash compare covers the production family too, on
    * top of TextDedupSpec's pair-set-equality gate vs the portable
    * family. */
  def dedupMinhashFast(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashLshPairs(Tables.documents(spark, dir),
        n = 3, numHashes = 16, bands = 8, threshold = 0.5, fast = true)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Oracle-applicability precheck for `dedup_minhash_fast`: the
    * xxHash64 SQL mirror implements the ≤31-byte single-stripe path
    * and aborts LOUDLY (HUGEINT cast error) on any longer token, so
    * this companion counts oversized tokens per corpus — a driver
    * hitting that error reads "oracle inapplicable: N oversized
    * tokens" from this entry instead of diagnosing a raw cast
    * failure. Single-row aggregate over the same whitespace
    * tokenization the fast family hashes; the engine kernel itself
    * handles all lengths. */
  def minhashFastPrecheck(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(
        count(lit(1)).as("n_tokens"),
        coalesce(sum(when(octet_length(col("tok")) >= 32, 1L).otherwise(0L)), lit(0L))
          .as("n_oversized"),
        coalesce(max(octet_length(col("tok"))), lit(0)).cast("long").as("max_token_bytes"))

  /** INCREMENTAL dedup: the `src1` slice plays the role of today's new
    * batch, LSH-matched against the rest of the corpus as the existing
    * signature index ([[TextDedup.crossCorpusLshPairs]]) — the daily
    * crawl-ingest shape, where only the new batch hashes fresh and the
    * corpus side is a maintained index. The oracle replays signatures
    * for BOTH sides, the cross-source band join, and the exact
    * cross-frame Jaccard verification. */
  def dedupIncrementalBatch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextDedup.crossCorpusLshPairs(
        docs.filter(col("source") === "src1"),
        docs.filter(col("source") =!= "src1"),
        n = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** Exact-substring spans ([[SpanDedup]]): the 40 longest maximal
    * token spans shared verbatim by ≥ 2 documents — the substring-
    * level (Lee et al. ExactSubstr) complement of the whole-document
    * families above. n = 8: long enough that shared spans are real
    * copying on this vocab, short enough that the harness corpus has
    * them at every sf. The oracle replays the positional gram hashes,
    * the distinct-doc gram filter, AND the interval merge. */
  def spanDupSpans(spark: SparkSession, dir: String): DataFrame =
    SpanDedup.duplicatedSpans(Tables.documents(spark, dir), n = 8, minDocs = 2)
      .orderBy(col("span_len").desc, col("doc_id").asc, col("span_start").asc)
      .limit(40)

  /** Per-document duplication profile over the same spans: the 20
    * most-duplicated docs by excisable token count — what a
    * substring-level cleaner would report before surgery. */
  def spanDupProfile(spark: SparkSession, dir: String): DataFrame =
    SpanDedup.spanProfile(Tables.documents(spark, dir), n = 8, minDocs = 2)
      .orderBy(col("dup_tokens").desc, col("doc_id").asc)
      .limit(20)

  /** The excision end of the span pipeline ([[SpanDedup.excised]]):
    * the 15 docs losing the most tokens, WITH their cleaned text —
    * the oracle string-compares the post-surgery documents, so the
    * gate covers covered-position union, anti-join, and ordered
    * re-assembly, not just span arithmetic. */
  def spanDupExcise(spark: SparkSession, dir: String): DataFrame =
    SpanDedup.excised(Tables.documents(spark, dir), n = 8, minDocs = 2)
      .withColumn("removed_tokens", col("n_tokens") - col("kept_tokens"))
      .orderBy(col("removed_tokens").desc, col("doc_id").asc)
      .limit(15)

  /** maxHamming = 0 here: the harness docs share one 31-word vocab, so
    * frequency-profile fingerprints cluster tightly (ham ≤ 6 matches
    * 62% of ALL pairs — SimHash needs real lexical diversity to
    * separate; see TextDedupSpec for a fixture where it does). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(Tables.documents(spark, dir), maxHamming = 0)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Banded-LSH near-dup pairs. The harness threshold (0.4 ⇒ angle
    * ≈ 66°) is far more permissive than a production near-dup cut, so
    * the band layout is many-cheap: 32 bands × 4 planes. Planes are
    * the PRODUCTION family — fixed-seed Gaussian ([[Similarity
    * .gaussianPlanes]]), not first-n corpus anchors, so bucket balance
    * can't degrade on corpora with correlated leading ids. The oracle
    * replays the identical plane literals and banding, so the gate
    * checks candidate generation AND verification, not just the
    * cosine tail. */
  /** The VERIFIED embedding near-dup pair graph, persisted once per
    * corpus ([[graft.operators.Persisted.index]] — the same
    * materialized-pair-table policy as [[TextDedup.pairGraph]]): the
    * LSH banding + cosine verification runs once, and every consumer
    * (the pair dump, the iterative component closure) reads the
    * cached thin frame — without this the label-propagation loop
    * re-runs the whole candidate pipeline EVERY round. */
  /** Vector-count budget for the banded 32×4 hyperplane family at the
    * permissive cos ≥ 0.4 threshold. A random pair co-buckets in SOME
    * band with p ≈ 0.87 (measured, NearDupScaleSpec), so banded
    * candidate volume is ~0.87·N²/2 — quadratic no matter the box. The
    * sf10 rehearsal measured the cliff: at N = 200k the pair join's
    * shuffle spill filled a 77 GB disk and the stage died. Under the
    * budget (every oracle SF, and sf1's 20k vectors) the banded path
    * runs — it is the compat parameterization the oracle replays;
    * above it the pair graph comes from the trained-IVF candidate
    * path (same 0.4 verify threshold, Σ occupancy² ≈ nProbe²·N²/2k
    * candidates with k ∝ √N), the same adaptive-dispatch pattern as
    * [[Components.connectedComponents]]'s union-find/distributed
    * switch: pick the strategy from a measured statistic. */
  private val BandedVectorLimit = 50000L

  private def embPairGraph(spark: SparkSession, dir: String): DataFrame =
    embPairGraphAdaptive(Tables.embeddings(spark, dir), dir)

  /** Dispatch core, bandedLimit injectable so DataOpsDispatchSpec can
    * force each branch on small data and pin the decision. */
  private[analytics] def embPairGraphAdaptive(emb: DataFrame, dir: String,
      bandedLimit: Long = BandedVectorLimit): DataFrame = {
    val n = embCount(emb, dir)
    if (n <= bandedLimit)
      graft.operators.Persisted.index(
        Similarity.nearDupPairs(emb, threshold = 0.4,
            bands = 32, planesPerBand = 4,
            planesOpt = Some(Similarity.gaussianPlanes(lshSeed, 128, embDim))))
    else {
      val k = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
      graft.operators.Persisted.index(
        Similarity.nearDupPairsIVF(emb, threshold = 0.4,
          trainedCentroids(emb, dir, k, nIter = 2), nProbe = 2))
    }
  }

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    embPairGraph(spark, dir)
      .orderBy(col("vec_a").asc, col("vec_b").asc)

  /** Embedding near-dup pairs → duplicate CLUSTERS: the same
    * composition `dedup_groups` proves for text pairs, over the
    * hyperplane-LSH embedding pair graph — one row per connected
    * component with its size and max member. The oracle replays the
    * seeded planes, banding, cosine verify, AND the recursive
    * transitive closure. */
  def dedupEmbeddingGroups(spark: SparkSession, dir: String): DataFrame =
    Components.dedupGroups(
      embPairGraph(spark, dir).select(col("vec_a"), col("vec_b")),
      aCol = "vec_a", bCol = "vec_b")

  /** Embedding near-dup pairs via the TRAINED-IVF candidate path —
    * the permissive-threshold scale twin of `dedup_embedding`. The
    * banded entry keeps the compat parameterization (32 bands × 4
    * planes) whose candidate set at cos ≥ 0.4 is ~all pairs (a random
    * pair co-buckets somewhere with p ≈ 0.87 — measured in
    * NearDupScaleSpec); this entry clusters once (k = 64 first-seed
    * centroids, 2 Lloyd iterations — the `kmeans_cells` trainer) and
    * pairs only within shared top-2 probed cells, so candidate volume
    * is Σ occupancy² ≈ nProbe²·N²/(2k). k SELF-SCALES as
    * max(8, ⌈√N⌉) — the canonical IVF regime balancing the O(N·k)
    * assignment against the O(N²/k) in-cell verify, both ~N^1.5 —
    * so the same entry stays sane from sf0.001 to sf1 and beyond
    * (the count is a 1-row parameter fetch; the oracle computes the
    * identical k with a LIMIT subquery). The oracle replays the
    * WHOLE loop: unrolled Lloyd iterations, top-2 probe ranking,
    * pair join, exact cosine verify. */
  def dedupEmbeddingIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val k = math.max(8, math.ceil(math.sqrt(embCount(emb, dir).toDouble)).toInt)
    val cents = trainedCentroids(emb, dir, k, nIter = 2)
    Similarity.nearDupPairsIVF(emb, threshold = 0.4, cents, nProbe = 2)
      .orderBy(col("vec_a").asc, col("vec_b").asc)
  }

  /** SemDeDup-style semantic prune (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the corpus once (the self-scaled trained-IVF
    * index above), find semantic duplicates only WITHIN probed cells
    * (cos ≥ 0.4), close the pair graph transitively, and keep one
    * representative per duplicate cluster (min vec_id — the paper
    * keeps one point per intra-cluster ε-group; min-id is its
    * deterministic stand-in). Output is the DROP LIST — (pruned
    * vector, its keeper) — the artifact a curation pipeline actually
    * feeds downstream, bounded by dup volume, not corpus size. Every
    * stage is shared machinery: the centroid memo, the IVF candidate
    * path ([[Similarity.nearDupPairsIVF]]), and the adaptive
    * connected-components closure ([[Components.connectedComponents]]).
    * The oracle replays the WHOLE loop — unrolled Lloyd iterations,
    * top-2 probe, in-cell pairs, cosine verify, recursive-CTE closure,
    * keeper selection. At 100 TB: training is a bounded parameter
    * fetch, candidates are Σ occupancy² not N², the closure state is
    * one label per paired vector (dup volume ≪ corpus). */
  def semdedupPrune(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val k = math.max(8, math.ceil(math.sqrt(embCount(emb, dir).toDouble)).toInt)
    val cents = trainedCentroids(emb, dir, k, nIter = 2)
    val pairs = Similarity.nearDupPairsIVF(emb, threshold = 0.4, cents, nProbe = 2)
      .select(col("vec_a"), col("vec_b"))
    Components.connectedComponents(pairs, "vec_a", "vec_b")
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("vec_id"), col("comp").as("keeper_id"))
      .orderBy(col("vec_id").asc)
  }

  /** Trained-centroid memo, keyed by (corpus dir, k, nIter). The IVF
    * index's training is once-per-corpus state — a real deployment
    * stores the centroid table next to the data and every reader
    * loads it — so repeat catalog calls reuse the fitted centroids
    * exactly like [[graft.operators.Persisted.index]] reuses pair
    * graphs. Keying by the immutable harness dir is safe for the
    * catalog's corpora; ad-hoc frames should call [[KMeans.fit]]
    * directly. */
  private val centroidMemo =
    new scala.collection.concurrent.TrieMap[(String, Int, Int), Seq[(Int, Array[Double])]]()
  private def trainedCentroids(emb: DataFrame, dir: String, k: Int,
      nIter: Int): Seq[(Int, Array[Double])] =
    centroidMemo.getOrElseUpdate((dir, k, nIter), KMeans.fit(emb, k, nIter))

  /** Memoized per-corpus vector count — the dispatch statistic and
    * the self-scaled-k input for every `dedup_embedding*` /
    * `semdedup_prune` entry. One count JOB per corpus total, like the
    * centroid memo: a repeat catalog sweep re-reads the cached long
    * instead of re-scanning the table (at 100 TB the count is a
    * parquet-footer statistics read, but even that is not free × 4
    * entries × 2 bench passes). `embCountJobs` counts actual count()
    * executions so DataOpsCountMemoSpec can pin the one-job claim. */
  private val embCountMemo = new scala.collection.concurrent.TrieMap[String, Long]()
  private[analytics] val embCountJobs = new java.util.concurrent.atomic.AtomicInteger(0)
  private[analytics] def embCount(emb: DataFrame, dir: String): Long =
    embCountMemo.getOrElseUpdate(dir, { embCountJobs.incrementAndGet(); emb.count() })

  /** Pairs → duplicate clusters: MinHash-LSH pair graph, transitive
    * closure via distributed min-label propagation, one row per
    * cluster with its keeper (min doc id). The oracle replays the
    * closure with a recursive CTE over the same pair set. */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame =
    Components.dedupGroups(
      TextDedup.pairGraph(Tables.documents(spark, dir),
        n = 3, numHashes = 16, bands = 8, threshold = 0.5)
        .select(col("doc_a"), col("doc_b")))

  /** Community detection over the duplicate pair graph: fixed-rounds
    * deterministic sync LPA ([[Components.labelPropagation]]) rolled
    * up per community — the density complement of [[dedupGroups]]
    * (a chain bridging two near-cliques keeps them in one COMPONENT
    * but in two COMMUNITIES). Same persisted pair graph; the oracle
    * unrolls all 4 label rounds over a materialized edge list. */
  def communitiesLpa(spark: SparkSession, dir: String): DataFrame =
    Components.labelPropagation(
      TextDedup.pairGraph(Tables.documents(spark, dir),
        n = 3, numHashes = 16, bands = 8, threshold = 0.5)
        .select(col("doc_a"), col("doc_b")),
      rounds = 4, src = "doc_a", dst = "doc_b")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"),
        min(col("id")).as("min_doc"), max(col("id")).as("max_doc"))
      .orderBy(col("community").asc)

  /** Corpus duplication inflation — THE one-row dedup governance
    * summary ("how duplicated is this corpus; what survives dedup"):
    * exact-duplicate rows (normalized-hash collisions), near-dup
    * graph size (nodes/clusters from the shared pair graph), and the
    * keep count after cluster-keeper dedup (docs − (nodes −
    * clusters)). Composes the existing exact/near machinery; all
    * counts exact integers, the keep share micro-quantized. */
  def dupInflation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exact = TextDedup.exactDedupSummary(docs)
      .select(col("n_docs"), col("n_unique").as("n_exact_unique"))
    val comps = Components.connectedComponents(
      TextDedup.pairGraph(docs, n = 3, numHashes = 16, bands = 8, threshold = 0.5)
        .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
    val near = comps.agg(count(lit(1)).as("n_near_nodes"),
      countDistinct(col("comp")).as("n_near_groups"))
    exact.crossJoin(broadcast(near))
      .select(col("n_docs"), col("n_exact_unique"),
        col("n_near_nodes"), col("n_near_groups"),
        (col("n_docs") - (col("n_near_nodes") - col("n_near_groups"))).as("n_keep_near"),
        floor((col("n_docs") - (col("n_near_nodes") - col("n_near_groups"))).cast("double")
          / col("n_docs") * lit(1e6) + lit(0.5)).cast("long").as("keep_share_micro"))
  }

  /** LSH screen certification: recall of the banded MinHash-LSH pair
    * graph against EXACT all-pairs Jaccard at the same τ = 0.5, from
    * the same shingle family. The verified pair graph is a subset of
    * the exact pair set by construction (candidates are
    * exact-verified), so precision is 1.0 and the one number that can
    * degrade is recall — the banding collision probability. The hash
    * gate already proves both sets row-identical to DuckDB; this
    * entry puts the recall NUMBER itself under the gate, so a banding
    * regression (fewer bands, broken key) shows up as a value change,
    * not just a slower diff. Empty corpus → vacuous recall 1.0.
    *
    * 100 TB posture: the exact-all-pairs leg makes this a
    * CERTIFICATION entry, not a production screen (the
    * dedup_threshold_sweep rule) — so above [[RecallSampleThreshold]]
    * docs, BOTH legs run over the deterministic 1-in-
    * [[RecallSampleMod]] doc sample `doc_id % mod = 1` (harness ids
    * are non-negative, so `%` = pmod — the one modulo rule the engine,
    * the verbatim SQL, and DuckDB share) and the recall number is the
    * sampled subgraph's recall — an unbiased estimate of the banding
    * curve, at 1/mod² of the exact leg's pair cost (sf100: the full
    * exact leg alone was 329 s, SCALE.md r10). The oracle replays the
    * dispatch as the same scalar-subquery gate (the stream_join_views
    * cohort pattern), so both branches sit under the hash gate; below
    * the threshold the estimate stays exact-full-corpus. */
  def lshPairRecall(spark: SparkSession, dir: String,
      sampleThreshold: Long = RecallSampleThreshold): DataFrame = {
    val all = Tables.documents(spark, dir)
    val docs = if (docCount(all, dir) <= sampleThreshold) all
      else all.filter(col("doc_id") % RecallSampleMod === 1)
    val exact = TextDedup.jaccardPairsIndex(docs, n = 3, threshold = 0.5)
      .agg(count(lit(1)).as("n_exact"))
    val lsh = TextDedup.pairGraph(docs, n = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .agg(count(lit(1)).as("n_lsh"))
    exact.crossJoin(broadcast(lsh))
      .select(col("n_exact"), col("n_lsh"),
        when(col("n_exact") > 0,
          floor(col("n_lsh").cast("double") / col("n_exact") * lit(1e6) + lit(0.5)))
          .otherwise(lit(1000000.0)).cast("long").as("recall_micro"))
  }

  /** Recall-certification sampling dispatch: above this many docs the
    * exact leg runs on a 1-in-[[RecallSampleMod]] sample. Sized above
    * every oracle SF (sf0.1 = 5k docs, sf1 = 50k) and below the sf10+
    * decade corpora, where the exact leg is the catalog's top cost. */
  private[analytics] val RecallSampleThreshold = 100000L
  private[analytics] val RecallSampleMod = 20

  /** documents count memo backing the dispatch — the evCountMemo
    * pattern and the same IMMUTABLE-FIXTURE-DIR contract (keys on dir
    * alone; must only be fed the full documents frame for that dir). */
  private val docCountMemo = new scala.collection.concurrent.TrieMap[String, Long]()
  private[analytics] def docCount(docs: DataFrame, dir: String): Long =
    docCountMemo.getOrElseUpdate(dir, docs.count())

  /** Threshold-calibration sweep for Jaccard dedup: the 0.05-bin
    * histogram of the pair-similarity distribution down to J ≥ 0.1 —
    * the curve a curation pipeline reads BEFORE choosing its dedup τ
    * (the mass just under a candidate τ is exactly what that choice
    * keeps). Runs the thin inverted-index form with the lowered
    * floor; at 100 TB this is a calibration pass over a sample, not
    * the production screen — so the calibration is now DISPATCHED like
    * [[lshPairRecall]]: above [[RecallSampleThreshold]] docs the sweep
    * runs over the deterministic `doc_id % RecallSampleMod = 1` slice
    * (the curve is a distribution estimate; a 1-in-20 doc sample
    * estimates it at 1/400 the exact-pair cost), and the oracle
    * replays the dispatch as the same scalar-subquery gate. Binning
    * uses the 1e-4-quantized similarity in the identical double
    * arithmetic on both engines. */
  def dedupThresholdSweep(spark: SparkSession, dir: String,
      sampleThreshold: Long = RecallSampleThreshold): DataFrame = {
    val all = Tables.documents(spark, dir)
    val docs = if (docCount(all, dir) <= sampleThreshold) all
      else all.filter(col("doc_id") % RecallSampleMod === 1)
    TextDedup.jaccardPairsIndex(docs, n = 3, threshold = 0.1)
      .withColumn("bin", floor(col("jaccard") * 20).cast("long"))
      .withColumn("j4", floor(col("jaccard") * lit(1e4) + lit(0.5)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j4")).as("sum_j4"))
      .orderBy(col("bin").asc)
  }

  /** Cross-split leakage audit: near-dup pairs from the shared
    * MinHash-LSH pair graph whose endpoints land in DIFFERENT splits
    * of the deterministic train/val/test assignment — the
    * contamination a held-out evaluation quietly assumes away (a test
    * doc with a train-side near-duplicate is not held out). Composes
    * two materialized pieces: the persisted pair graph and the
    * map-side split label; the only joins are the pair list against
    * the (doc_id, split) projection, both equi-joins AQE can size.
    * At 100 TB the pair list is the small side by construction
    * (near-dup pairs ≪ corpus). */
  def splitLeakagePairs(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.pairGraph(Tables.documents(spark, dir),
        n = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    val splits = Curation.assignSplits(Tables.documents(spark, dir), "doc_id",
        cuts = Seq(("train", 80), ("val", 90)), lastLabel = "test")
      .select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** Cross-source duplication matrix: near-dup pair counts by
    * (source_a, source_b) — the provenance question behind every
    * corpus merge ("which feeds mirror each other?"), answered from
    * the same persisted pair graph as the other graph queries. The
    * pair endpoints join to the (doc_id, source) projection
    * (equi-joins AQE can size; the pair list is the small side by
    * construction) and the unordered source pair is canonicalized
    * (least/greatest) so A↔B and B↔A count as one cell. */
  def dupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.pairGraph(Tables.documents(spark, dir),
        n = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .select(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_lo").asc, col("source_hi").asc)
  }

  /** Duplicate-graph centrality: PageRank over the MinHash-LSH pair
    * graph surfaces template/boilerplate hubs (documents whose
    * near-dup neighborhoods are large and well-connected) — the
    * corpus-curation analogue of host-level PageRank filtering. The
    * oracle unrolls all three power iterations as CTEs over the same
    * pair graph. */
  def pagerankHubs(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.pairGraph(Tables.documents(spark, dir),
        n = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    PageRank.ranks(pairs, "doc_a", "doc_b", nIter = 3)
      .select(col("id").as("doc_id"), Cols.r(col("rank"), 9).as("rank"))
      .orderBy(col("rank").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Dense-region extraction: the 2-core of the duplicate pair graph
    * ([[KCore.kCore]]) — nodes surviving iterative peeling of
    * degree-<2 leaves. Components says who is connected; the k-core
    * says where the template/boilerplate MESH is (chains and isolated
    * pairs peel away). The oracle unrolls the peel as fixpoint-stable
    * CTE rounds (extra rounds are no-ops once stable, so 12 unrolled
    * rounds equal the fixpoint for any peel depth ≤ 12 — near-dup
    * graphs settle in 2–3). */
  def kcoreDocs(spark: SparkSession, dir: String): DataFrame =
    KCore.kCore(
        TextDedup.pairGraph(Tables.documents(spark, dir),
          n = 3, numHashes = 16, bands = 8, threshold = 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b", k = 2)
      .select(col("id").as("doc_id"), col("core_deg"))
      .orderBy(col("doc_id").asc)

  /** As-of attribution: each click joined to the user's latest
    * purchase at or before the click (the temporal-join workload),
    * rolled up per click date. The oracle uses DuckDB's NATIVE
    * `ASOF LEFT JOIN` — independent evidence that the union+window
    * composition implements the operator's semantics exactly. */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("ts").isNotNull)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    // AsOfJoin requires unique (keys, time) on the right for
    // deterministic output — pre-aggregate in case a corpus ever has
    // same-instant purchases (harness data doesn't; this is identity)
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
    AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "ts", Seq("purchase_value"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("click_date"))
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("asof_purchase_value")).as("n_attributed"),
        Cols.r(Cols.sumExact(col("asof_purchase_value"), 2), 2).as("attributed_value"))
      .orderBy(col("click_date").asc)
  }

  /** Interval join workload: (purchase, view) pairs where the view
    * happened within the hour before the purchase, per-day rollup —
    * the bucketed band-join path, oracle-checked against a plain SQL
    * range join. */
  def rangeViewsBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("ts").isNotNull)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
    RangeJoin.within(purchases, views, Seq("user_id"), "ts", "ts",
        beforeUs = 3600L * 1000000L)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("purchase_date"))
      .agg(
        count(lit(1)).as("n_view_purchase_pairs"),
        countDistinct(col("pid")).as("n_purchases_with_view"))
      .orderBy(col("purchase_date").asc)
  }

  /** Incremental high-watermark loading under the oracle gate: land a
    * half-history batch, then incrementally append only the rows past
    * the watermark from the FULL feed, then replay the full feed a
    * second time (must append 0 — idempotency is part of the hashed
    * output via `replay_appended`). The final per-day census must
    * equal the raw table's: nothing lost, nothing duplicated. */
  def incrLoadEvents(spark: SparkSession, dir: String): DataFrame = {
    // query-lifetime scratch on the RAM-backed fs (same policy as every
    // other maintenance gate) — the old fixed path under java.io.tmpdir
    // paid this box's erratic file-create latency three times per gate.
    // The per-day census SETTLES to a local relation inside the gate so
    // the full events-table copy can be deleted in the finally (the r15
    // form returned a lazy read of it, deferring reclamation to the
    // JVM-exit hook — each call leaked a corpus copy into the
    // RAM-backed fs, stacking against the shuffle scratch at oracle SF)
    val work = graft.sources.LocalFs.scratchDir("graft_incr_events")
    val target = work.toString + "/t"
    // the three appendSince batches below all slice this same frame:
    // persist once inside the timed entry (guide §1.2 step 1)
    val ev = Tables.events(spark, dir).filter(col("ts").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // slice the first batch ON the watermark column — a prefix in ts
      // order would silently rely on event ids being assigned
      // time-ordered (true of this corpus, but not a contract)
      val cut = ev.agg((max(col("event_id")) / 2).cast("long")).head().getLong(0)
      val batch1 = ev.filter(col("event_id") <= cut)
      graft.sources.Incremental.appendSince(spark, target, batch1, "event_id")
      graft.sources.Incremental.appendSince(spark, target, ev, "event_id")
      val replayed = graft.sources.Incremental.appendSince(spark, target, ev, "event_id")
      val rollup = spark.read.parquet(target)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_distinct_ids"))
        .withColumn("replay_appended", lit(replayed))
        .orderBy(col("event_date").asc)
      val settled = rollup.collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(settled, 1), rollup.schema)
    } finally {
      ev.unpersist(blocking = false)
      graft.sources.LocalFs.deleteRecursively(work)
    }
  }

  /** Daily session rollup: 30-minute-gap sessionization per user, then
    * sessions/events/duration per start date. Duration stays exact µs
    * integer arithmetic until the final rounded averages. */
  def sessionizeDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
    Sessionize.sessions(ev, "user_id", "ts", gapSeconds = 1800,
        tiebreakCols = Seq("event_id"))
      .groupBy(date_format(col("session_start"), "yyyy-MM-dd").as("session_date"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("total_events"),
        Cols.r(sum(col("n_events")).cast("double") / count(lit(1)), 6).as("avg_session_events"),
        Cols.r(sum(col("duration_us")).cast("double") / count(lit(1)) / 1e6, 6).as("avg_duration_sec"))
      .orderBy(col("session_date").asc)
  }

  /** Calendar densification ([[graft.operators.Gapfill]]): daily value
    * sums per (event_type, user-bucket) series, densified to each
    * series' own date span and LOCF-filled; emits the GAP days with
    * their carried values (233 at sf0.01). Carried values are
    * bit-identical copies of the rounded daily sums, so the oracle's
    * `last_value IGNORE NULLS` replay matches exactly. */
  def gapfillDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), pmod(col("user_id"), lit(25L)).as("bucket"),
        to_date(col("ts")).as("d"))
      .agg(Cols.r(Cols.sumExact(col("value"), 2), 2).as("v"))
    Gapfill.dailyLocf(daily, Seq("event_type", "bucket"), "d", Seq("v"))
      .filter(col("is_gap"))
      .select(col("event_type"), col("bucket"),
        date_format(col("d"), "yyyy-MM-dd").as("day"), col("v").as("v_carried"))
      .orderBy(col("event_type").asc, col("bucket").asc, col("day").asc)
  }

  /** Record linkage ([[graft.operators.FuzzyLink]]): near-duplicate
    * customer names (edit distance ≤ 1) within nation blocks — the
    * block → compare → match shape of entity resolution. Cost is
    * Σ|block|², not |table|²; the bounded `levenshtein(a, b, 1)`
    * abandons each pair in O(min(len)) once the cut is passed. */
  def fuzzyPairsCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_name"))
    graft.operators.FuzzyLink
      .selfMatch(cust, "c_custkey", "c_name", Seq("c_nationkey"), maxDist = 1)
      .select(col("c_nationkey").as("nation"), col("id_a"), col("id_b"),
        col("dist").cast("long").as("dist"))
      .orderBy(col("nation").asc, col("id_a").asc, col("id_b").asc)
  }

  /** SCD2 dimension history for a changing user attribute (the props
    * JSON `k` bucketed into tiers): full version rows with half-open
    * validity intervals, no-change versions collapsed. Limited to
    * user_id < 10 to keep the dump bounded; the operator itself is
    * scale-free (one keyed window). */
  def scd2UserVersions(spark: SparkSession, dir: String): DataFrame = {
    val changes = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull && col("user_id") < 10)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("tier", expr("k div 10"))
      .select(col("user_id"), col("ts"), col("event_id"), col("tier"))
    Scd2.fromChangeLog(changes, Seq("user_id"), "ts", Seq("tier"),
        tiebreakCols = Seq("event_id"))
      .select(col("user_id"), col("event_id").as("version_event"), col("tier"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
        col("is_current"))
      .orderBy(col("user_id").asc, col("valid_from").asc, col("version_event").asc)
  }

  /** Ordered conversion funnel view → click → purchase per user: each
    * stage's first instant must not precede the previous stage's. Three
    * chained min-over-key windows — one shuffle on user_id, then a
    * two-level aggregate; never a self-join per stage. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"))
    val wU = Window.partitionBy(col("user_id"))
    val staged = base
      .withColumn("fv", min(when(col("event_type") === "view", col("ts"))).over(wU))
      .withColumn("fc", min(when(col("event_type") === "click" && col("ts") >= col("fv"),
        col("ts"))).over(wU))
      .withColumn("fp", min(when(col("event_type") === "purchase" && col("ts") >= col("fc"),
        col("ts"))).over(wU))
    staged.groupBy(col("user_id"))
      .agg(max(col("fv")).as("fv"), max(col("fc")).as("fc"), max(col("fp")).as("fp"))
      .agg(count(lit(1)).as("n_users"),
        count(col("fv")).as("n_viewed"),
        count(col("fc")).as("n_clicked_after_view"),
        count(col("fp")).as("n_purchased_after_click"),
        Cols.r(count(col("fc")).cast("double") /
          nullif(count(col("fv")), lit(0L)).cast("double"), 6).as("click_through_rate"),
        Cols.r(count(col("fp")).cast("double") /
          nullif(count(col("fc")), lit(0L)).cast("double"), 6).as("purchase_rate"))
  }

  // ---- corpus curation -------------------------------------------------

  /** Per-doc text-feature table (token count, quality score,
    * type-token ratio), persisted under the same policy as the shingle
    * signature frames ([[graft.operators.Persisted.index]]): the
    * tokenize→score pipeline runs ONCE per corpus and every consumer
    * (`text_quality`, `mix_budget`, `dedup_keep`) reads the same
    * cached thin frame — at warehouse scale this is the materialized
    * doc-features table every curation pass joins against, instead of
    * re-reading full document text per query. Rounded-4 scores so
    * every consumer ranks on the identical oracle-stable value. */
  private def docFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Persisted.index(
      Tables.documents(spark, dir).select(
        col("doc_id"), col("lang"), col("source"),
        TextAnalysis.nTokens(col("text")).as("n_tokens"),
        Cols.r(TextAnalysis.qualityScore(col("text")), 4).as("quality"),
        Cols.r(TextAnalysis.typeTokenRatio(col("text")), 4).as("ttr")))

  /** Near-dup collapse end-to-end: MinHash-LSH pairs → components →
    * drop every cluster member except the keeper (min id) → per-lang
    * surviving doc/token counts. */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.pairGraph(Tables.documents(spark, dir), n = 3, numHashes = 16,
        bands = 8, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    // rollup reads the shared thin feature frame, not document text
    Curation.keeperFilter(docFeatures(spark, dir), pairs)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tokens").cast("long")).as("kept_tokens"))
      .orderBy(col("lang").asc)
  }

  /** Near-dup collapse with the QUALITY-WEIGHTED keeper
    * ([[graft.operators.Curation.keeperFilterBest]]): each cluster
    * keeps its best document by (rounded quality DESC, doc_id ASC) —
    * the rule production curation runs — rolled up per language.
    * `quality_sum_q4` (the 1e-4-quantized quality sum of survivors,
    * an order-independent integer) is what separates this gate from
    * the min-id keeper's when clusters span quality levels: a broken
    * keeper rule flips the VALUE, not just row counts. The oracle
    * replays components (recursive CTE), the quality features, and
    * the per-cluster argmax. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.pairGraph(Tables.documents(spark, dir), n = 3, numHashes = 16,
        bands = 8, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    Curation.keeperFilterBest(docFeatures(spark, dir), pairs,
        Seq(col("quality").desc, col("doc_id").asc))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tokens").cast("long")).as("kept_tokens"),
        sum(floor(col("quality") * lit(1e4) + lit(0.5)).cast("long")).as("quality_sum_q4"))
      .orderBy(col("lang").asc)
  }

  /** Quality-first token budgeting: per language, keep the
    * highest-quality documents while the running token total stays
    * within 2000 — the mixture-assembly step of a curation pipeline.
    * Ordering uses the ROUNDED quality (and doc_id tiebreak) so both
    * engines rank identically at FP boundaries. */
  def mixBudget(spark: SparkSession, dir: String): DataFrame =
    Curation.tokenBudget(docFeatures(spark, dir), "lang", col("n_tokens"),
        Seq(col("quality").desc, col("doc_id").asc), budget = 2000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("budget_tokens")).as("total_tokens"))
      .orderBy(col("lang").asc)

  /** Deterministic stratified sampling: per-language keep rates over a
    * portable multiplicative-hash bucket of doc_id — the reproducible
    * downsampling step (rerunning the pipeline yields the same
    * sample, in any engine). */
  def sampleStrata(spark: SparkSession, dir: String): DataFrame =
    Curation.hashSample(Tables.documents(spark, dir), "doc_id", "lang",
        rates = Map("en" -> 50, "de" -> 30, "fr" -> 20, "es" -> 10, "zh" -> 5),
        defaultRate = 10)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy(col("lang").asc)

  /** Deterministic 80/10/10 train/val/test assignment
    * ([[Curation.assignSplits]]) with the per-split × per-language
    * audit rollup — the split-balance check run before training
    * (hash splits are disjoint and growth-stable by construction, but
    * per-stratum balance is a property of the data and must be
    * measured). Map-side label + one partial-aggregable rollup; the
    * corpus never shuffles on anything wider than the (split, lang)
    * key. */
  def splitTrainValTest(spark: SparkSession, dir: String): DataFrame =
    Curation.assignSplits(Tables.documents(spark, dir), "doc_id",
        cuts = Seq(("train", 80), ("val", 90)), lastLabel = "test")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split").asc, col("lang").asc)

  /** Per-document bigram-LM surprisal (the perplexity filter of
    * CCNet/Gopher pipelines, self-trained here: outliers against the
    * corpus's own bigram statistics are templated/degenerate text).
    * Surprisal is computed with [[graft.operators.LanguageModel]]'s
    * transcendental-free log2 (octave ladder + chord — bit-identical
    * on every engine, ≤0.09-bit systematic bias), summed per document
    * in integer micro-bits (order-independent). perplexity =
    * 2^avg_bits, left to the consumer. Top 20 most-surprising docs. */
  def lmSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    LanguageModel.surprisalScores(docs, docs)
      .orderBy(col("avg_bits").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Trigram stupid-backoff surprisal with a TRAIN/SCORE SPLIT: the
    * model trains on even doc_ids and scores odd doc_ids, so held-out
    * trigrams actually exercise the backoff chain (self-scoring would
    * keep every trigram in-model and the backoff branches dead). Top
    * 20 most-surprising held-out docs. */
  def lmBackoff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    LanguageModel.backoffScores(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
      .orderBy(col("avg_bits").desc, col("doc_id").asc)
      .limit(20)
  }

  /** TRAINED quality classifier ([[graft.operators.Classifier]] —
    * softsign-logistic batch GD, 8 iterations, lr 2.0): distills the
    * rule-based quality filter into a single learned linear scorer —
    * label = qualityScore ≥ 0.875, features = the rule's four
    * component scores (length band, stopword presence, lexical
    * diversity, word-length band). This is the fasttext-style
    * filter-training step of a curation pipeline (heuristic labels →
    * cheap learned model), run entirely in the engine; the data is
    * linearly separable with margin, so GD genuinely converges
    * (train accuracy 0.61 majority → ~0.99 by iteration 4 at sf0.01).
    * The oracle replays the WHOLE training loop (every gradient sum
    * on the 1e-6 grid, every weight update's double arithmetic) as
    * unrolled CTE blocks, then the final weights and train accuracy —
    * the same whole-loop gate as `kmeans_cells`.
    * One row: (n, n_correct, w0..w4 in micro units). */
  def clfQualityWeights(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val feats = graft.operators.Persisted.index(
      Tables.documents(spark, dir).select(
        when(TextAnalysis.qualityScore(txt) >= 0.875, lit(1.0)).otherwise(lit(0.0)).as("y"),
        TextAnalysis.lengthScore(txt).as("x1"),
        TextAnalysis.stopwordScore(txt).as("x2"),
        TextAnalysis.diversityScore(txt).as("x3"),
        TextAnalysis.wordLengthScore(txt).as("x4")))
    val xs = Seq(col("x1"), col("x2"), col("x3"), col("x4"))
    val w = Classifier.fitSoftsignLogit(feats, xs, col("y"), nIter = 8, lr = 2.0)
    def micro(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong
    Classifier.score(feats, xs, w)
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("y").cast("int"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("n"), col("n_correct"),
        lit(micro(w(0))).as("w0_micro"), lit(micro(w(1))).as("w1_micro"),
        lit(micro(w(2))).as("w2_micro"), lit(micro(w(3))).as("w3_micro"),
        lit(micro(w(4))).as("w4_micro"))
  }

  /** Reliability diagram of the trained filter: scores bucketed into
    * p-deciles with the observed positive rate beside the mean
    * predicted p — the standard calibration read-out before a learned
    * keep-filter's threshold is trusted (a bucket whose observed rate
    * sits far from its mean p is where the filter lies). Same
    * replayed-training contract as [[clfQualityWeights]]; bucketing
    * is floor(p·10) on the softsign score (open (0,1), so buckets
    * 0..9), identical double arithmetic on both engines. */
  def clfCalibration(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val feats = graft.operators.Persisted.index(
      Tables.documents(spark, dir).select(
        when(TextAnalysis.qualityScore(txt) >= 0.875, lit(1.0)).otherwise(lit(0.0)).as("y"),
        TextAnalysis.lengthScore(txt).as("x1"),
        TextAnalysis.stopwordScore(txt).as("x2"),
        TextAnalysis.diversityScore(txt).as("x3"),
        TextAnalysis.wordLengthScore(txt).as("x4")))
    val xs = Seq(col("x1"), col("x2"), col("x3"), col("x4"))
    val w = Classifier.fitSoftsignLogit(feats, xs, col("y"), nIter = 8, lr = 2.0)
    Classifier.score(feats, xs, w)
      .withColumn("p_micro", floor(col("p") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("bucket", floor(col("p") * lit(10)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("long")).as("n_pos"),
        floor(sum(col("p_micro")).cast("double") / count(lit(1)) + lit(0.5))
          .cast("long").as("mean_p_micro"))
      .withColumn("obs_rate_micro",
        floor(col("n_pos").cast("double") / col("n") * lit(1e6) + lit(0.5)).cast("long"))
      .orderBy(col("bucket").asc)
  }

  /** The APPLY step of the trained filter: score every document with
    * the weights [[clfQualityWeights]] learns and roll up the keep
    * decision per language — train → score → filter, end to end in
    * the engine. Scoring is map-side codegen over the cached feature
    * frame (plan-asserted); per-mille keep mass rides along as the
    * exact integer micro-sum of the softsign scores. */
  def clfKeepDocs(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val feats = graft.operators.Persisted.index(
      Tables.documents(spark, dir).select(
        col("lang"),
        when(TextAnalysis.qualityScore(txt) >= 0.875, lit(1.0)).otherwise(lit(0.0)).as("y"),
        TextAnalysis.lengthScore(txt).as("x1"),
        TextAnalysis.stopwordScore(txt).as("x2"),
        TextAnalysis.diversityScore(txt).as("x3"),
        TextAnalysis.wordLengthScore(txt).as("x4")))
    val xs = Seq(col("x1"), col("x2"), col("x3"), col("x4"))
    val w = Classifier.fitSoftsignLogit(feats, xs, col("y"), nIter = 8, lr = 2.0)
    Classifier.score(feats, xs, w)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pred").cast("long")).as("n_kept"),
        sum(floor(col("p") * lit(1e6) + lit(0.5)).cast("long")).as("p_micro_sum"))
      .orderBy(col("lang").asc)
  }

  /** Length-weighted document sampling via priority sampling
    * ([[Curation.prioritySample]] — DLT top-k by w/u priorities with
    * the subset-sum estimator ŵ = max(w, τ)): longer documents are
    * proportionally likelier to be kept, and Σŵ over the sample
    * estimates the corpus's total weight without a full pass. The
    * oracle replays the hash, the priorities, the (k+1) threshold,
    * and the adjusted weights. */
  def samplePriority(spark: SparkSession, dir: String): DataFrame =
    Curation.prioritySample(Tables.documents(spark, dir), "doc_id",
        col("n_chars"), k = 50)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        Cols.r(col("priority"), 4).as("priority"),
        Cols.r(col("w_hat"), 4).as("w_hat"))
      .orderBy(col("priority").desc, col("doc_id").asc)

  /** Per-language length-weighted sampling with per-stratum subset-sum
    * estimators ([[Curation.prioritySampleByGroup]]): 10 docs per
    * language, each stratum carrying its own τ and adjusted weights so
    * Σŵ per language estimates that language's total chars. */
  def samplePriorityLang(spark: SparkSession, dir: String): DataFrame =
    Curation.prioritySampleByGroup(Tables.documents(spark, dir), "doc_id", "lang",
        col("n_chars"), kPerGroup = 10)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        Cols.r(col("priority"), 4).as("priority"),
        Cols.r(col("w_hat"), 4).as("w_hat"))
      .orderBy(col("lang").asc, col("priority").desc, col("doc_id").asc)

  // ---- similarity search ---------------------------------------------

  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Embedding QA: the 20 vectors LEAST similar to their own label's
    * centroid — the mislabeled/corrupt-vector screen run before
    * embeddings feed retrieval or dedup. Centroids come from a
    * bounded (labels × dims) reduce with per-element 1e-6 integer
    * quantization (order-independent exact sums → one IEEE division
    * per coordinate, so both engines build bit-identical centroids);
    * the assembled centroid arrays broadcast back and the per-row
    * cosine is the codegen'd [[graft.functions.DotProduct]] kernel —
    * the corpus never shuffles. The oracle rebuilds the centroids via
    * positional unnest-zip and replays the kernel's left-to-right
    * fold. */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && col("label").isNotNull)
    val ex = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("label"), (col("pos0") + 1).as("pos"), col("v").cast("double").as("v"))
    val cent = ex.groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("v") * lit(1e6) + lit(0.5)).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sq").cast("double") / lit(1e6) / col("n").cast("double")).as("c"))
    val centArr = cent.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cent"))
    val dotQC = graft.GraftFunctions.dot(col("embedding"), col("cent"))
    val nV = graft.GraftFunctions.dot(col("embedding"), col("embedding"))
    val nC = graft.GraftFunctions.dot(col("cent"), col("cent"))
    emb.join(broadcast(centArr), Seq("label"))
      .filter(nV > 0 && nC > 0)
      .withColumn("cos", floor(dotQC / (sqrt(nV) * sqrt(nC)) * lit(1e6) + lit(0.5)) / lit(1e6))
      .select(col("vec_id"), col("label"), col("cos"))
      .orderBy(col("cos").asc, col("vec_id").asc)
      .limit(20)
  }

  def simTopKLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 3, nPlanes = 3,
        planesOpt = Some(Similarity.gaussianPlanes(lshSeed, 3, embDim)))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  def simTopKIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 3,
        nCentroids = 16, nProbe = 4)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Lloyd's k-means (k = 8, 2 iterations) over the embeddings, then
    * the final cell census with the average member-to-centroid cosine.
    * The oracle unrolls both iterations as CTE blocks — every FP step
    * (quantized coordinate sums, fold-ordered dots, tie-broken argmax)
    * replays exactly, so the hash gate checks the whole training loop,
    * not just the last projection. */
  def kmeansCells(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = trainedCentroids(emb, dir, k = 8, nIter = 2)
    KMeans.assignCells(emb, cents)
      .select(col("cell").cast("long").as("cell"), Cols.r(col("cell_cos"), 6).as("rcos"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        Cols.r(Cols.avgExact(col("rcos"), 6), 6).as("avg_cos"))
      .orderBy(col("cell").asc)
  }

  /** IVF search over TRAINED cells: the k-means centroids feed the
    * probe index end-to-end — train (2 Lloyd iterations), bucket the
    * corpus, probe each query's 2 nearest cells, exact-score members.
    * The oracle replays training AND search. */
  def simTopKIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = trainedCentroids(emb, dir, k = 8, nIter = 2)
    Similarity.ivfTopKTrained(emb, emb.filter(col("vec_id") < 10), cents, k = 3, nProbe = 2)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Measured recall@5 of the approximate ANN paths (seeded-plane LSH,
    * trained-centroid IVF) against exact brute-force top-k — the
    * index-quality REGRESSION GATE: a change that degrades recall (a
    * worse plane family, a broken trainer) flips this oracle row red
    * instead of silently shipping a worse index. All arithmetic is
    * exact (integer hit counts; one rounded division at the end), so
    * the oracle replays the entire computation — search paths AND the
    * recall math. The exact result is persisted once (50 rows): three
    * consumers, one corpus scan. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val exact = graft.operators.Persisted.index(
      Similarity.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id")))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    def row(method: String, approx: DataFrame): DataFrame =
      approx.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(nExact))
        .select(lit(method).as("method"), col("n_exact"), col("n_hits"),
          Cols.r(col("n_hits").cast("double") / col("n_exact").cast("double"), 6).as("recall"))
    val planes = Some(Similarity.gaussianPlanes(lshSeed, 3, embDim))
    val lsh = Similarity.lshTopK(emb, q, k = 5, nPlanes = 3, planesOpt = planes)
    val mlsh = Similarity.lshTopKMultiprobe(emb, q, k = 5, nPlanes = 3, planesOpt = planes)
    val ivf = Similarity.ivfTopKTrained(emb, q,
      trainedCentroids(emb, dir, k = 8, nIter = 2), k = 5, nProbe = 2)
    row("ivf_kmeans", ivf).unionAll(row("lsh", lsh)).unionAll(row("lsh_multiprobe", mlsh))
      .orderBy(col("method").asc)
  }

  /** Measured cosine distortion of random projection ([[Similarity
    * .randomProject]] — 128 → 64 dims): mean/max |cos_original −
    * cos_projected| over a fixed 600-pair sample. This is the JL
    * property the operator actually guarantees — DISTANCE
    * preservation, not top-k rank preservation: on this corpus the
    * neighbor margins (top cos ≈ 0.38 over a 1/√128 noise floor) are
    * smaller than the projection noise, so a rank-recall gate would
    * only measure the corpus, not the operator. Per-pair errors are
    * quantized to integer micro-units before the mean (order-
    * independent). The oracle replays the 64 plane literals, the
    * float-cast projections, and both cosine grids. */
  def rpDistortion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val proj = Similarity.randomProject(emb,
      Similarity.gaussianPlanes(lshSeed, 64, embDim))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .join(proj.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qp")), Seq("qid"))
    val c = emb.filter(col("vec_id") >= 10 && col("vec_id") < 70)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .join(proj.filter(col("vec_id") >= 10 && col("vec_id") < 70)
        .select(col("vec_id").as("cid"), col("embedding").as("cp")), Seq("cid"))
    def grid(x: Column): Column = floor(x * lit(1e6) + lit(0.5)) / lit(1e6)
    c.crossJoin(broadcast(q))
      .select((floor(abs(grid(Similarity.cosine(col("qv"), col("cv")))
          - grid(Similarity.cosine(col("qp"), col("cp")))) * lit(1e6) + lit(0.5)))
        .cast("long").as("e"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("e")).as("esum"), max(col("e")).as("emax"))
      .select(lit(64).as("rdim"), col("n_pairs"),
        (floor(col("esum").cast("double") / col("n_pairs").cast("double") + lit(0.5)) / lit(1e6))
          .as("mean_abs_err"),
        (col("emax").cast("double") / lit(1e6)).as("max_abs_err"))
  }

  // ---- product quantization -------------------------------------------

  /** PQ geometry: 64-dim vectors → 4 subspaces × 16 codewords, 2
    * Lloyd iterations over a 256-vector training sample. 16 codewords
    * ⇒ 4-bit codes — the corpus compresses to 2 bytes/vector. */
  private val pqM = 4
  private val pqK = 16
  private val pqIter = 2
  private val pqSampleN = 256

  /** Trained-codebook memo, keyed by corpus dir — pure driver-side
    * values (the centroidMemo pattern), safe across sessions. */
  private val pqMemo =
    new scala.collection.concurrent.TrieMap[String, Seq[graft.operators.Pq.Code]]()

  /** Actual trainings — TrainMemoSpec pins one-per-corpus across the
    * four PQ-family entries and repeat sweeps. */
  private[graft] val pqTrainRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  private def trainedPq(emb: DataFrame, dir: String): Seq[graft.operators.Pq.Code] =
    pqMemo.getOrElseUpdate(dir, {
      pqTrainRuns.incrementAndGet()
      graft.operators.Pq.fitCodebooks(emb, pqM, pqK, pqIter, pqSampleN)
    })

  /** ADC top-k over the product-quantized corpus ([[graft.operators
    * .Pq]]): codebooks train once on a bounded sample, the corpus is
    * encoded and reconstructed map-side from literal codebooks, and
    * the same 10 queries as `sim_topk` rank against the
    * reconstruction. The oracle replays the ENTIRE loop — sample,
    * per-subspace unrolled Lloyd rounds, L2 argmin encode,
    * reconstruction, cosine ranking. */
  def simTopKPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.operators.Pq.adcTopK(emb, emb.filter(col("vec_id") < 10),
        trainedPq(emb, dir), k = 5)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Measured PQ reconstruction quality over the WHOLE corpus: mean/
    * max squared reconstruction error and mean cosine between each
    * vector and its reconstruction — the compression-loss gate (the
    * rp_distortion pattern for the PQ codec). Per-vector values
    * quantize to the 1e-6 grid before exact integer aggregation. */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val rec = graft.operators.Pq.reconstruct(emb, trainedPq(emb, dir))
    val v = col("embedding"); val r = col("recon")
    val sq = graft.GraftFunctions.dot(v, v) - lit(2.0) * graft.GraftFunctions.dot(v, r) +
      graft.GraftFunctions.dot(r, r)
    val cosRaw = graft.GraftFunctions.dot(v, r) /
      (sqrt(graft.GraftFunctions.dot(v, v)) * sqrt(graft.GraftFunctions.dot(r, r)))
    rec.select(
        floor(sq * lit(1e6) + lit(0.5)).cast("long").as("e"),
        floor(cosRaw * lit(1e6) + lit(0.5)).cast("long").as("c"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("e")).as("esum"),
        max(col("e")).as("emax"), sum(col("c")).as("csum"))
      .select(lit(pqM).as("m"), lit(pqK).as("k"), col("n_vectors"),
        (floor(col("esum").cast("double") / col("n_vectors").cast("double") + lit(0.5)) / lit(1e6))
          .as("mean_sq_err"),
        (col("emax").cast("double") / lit(1e6)).as("max_sq_err"),
        (floor(col("csum").cast("double") / col("n_vectors").cast("double") + lit(0.5)) / lit(1e6))
          .as("mean_cos"))
  }

  /** Recall@5 of PQ ADC search against exact brute force — the
    * index-quality regression gate for the codec ([[annRecall]]'s
    * construction for the PQ path): a codebook change that degrades
    * rank preservation flips this row red. */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = graft.operators.Pq.adcTopK(emb, q, trainedPq(emb, dir), k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    approx.join(exact, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(lit("pq_adc").as("method"), col("n_exact"), col("n_hits"),
        Cols.r(col("n_hits").cast("double") / col("n_exact").cast("double"), 6).as("recall"))
  }

  /** IVFADC: the trained-IVF coarse index composed with the PQ codec
    * ([[graft.operators.Pq.ivfAdcTopK]]) — probe each query's 2
    * nearest trained cells, ADC-score only the probed cells' codes.
    * Shares BOTH trained artifacts with their standalone entries (the
    * k-means centroids of `sim_topk_ivf_kmeans` via centroidMemo, the
    * PQ codebooks via pqMemo), so the composition adds zero training
    * jobs. The oracle replays coarse training, PQ training, both
    * assignments, and the ADC ranking. */
  def simTopKIvfadc(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.operators.Pq.ivfAdcTopK(emb, emb.filter(col("vec_id") < 10),
        trainedCentroids(emb, dir, k = 8, nIter = 2), trainedPq(emb, dir),
        k = 5, nProbe = 2)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** INDEX-ARTIFACT PERSISTENCE GATE — [[kmvPersistMerge]]'s
    * cross-run shape applied to ANN artifacts: train the IVF
    * centroids and PQ codebooks, SAVE both through
    * [[graft.sources.IndexStore]], then — as a logically separate
    * serving run — LOAD them back and serve [[graft.operators.Pq
    * .ivfAdcTopK]] from the LOADED artifacts only. The oracle is the
    * single-run replay (`sim_topk_ivfadc`'s SQL verbatim): any bit
    * the parquet round trip loses or reorders in either artifact
    * changes a cell assignment or an ADC score and flips the hash.
    * This is the train-once-offline / load-everywhere deployment
    * shape — the serving path never touches a trainer, making the
    * README's "trained index artifacts ship between jobs" claim
    * end-to-end true under the gate. Loaded artifacts are bounded
    * parameter fetches (k·dim + m·k·subDim doubles) baked into the
    * serving plan as literals, so the returned frame has no
    * dependence on the scratch artifacts and the scratch dir is
    * dropped before returning. */
  def annPersistServe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val work = graft.sources.LocalFs.scratchDir("graft_ann_persist")
    try {
      graft.sources.IndexStore.saveCentroids(spark,
        trainedCentroids(emb, dir, k = 8, nIter = 2), s"$work/centroids")
      graft.sources.IndexStore.savePqCodebooks(spark,
        trainedPq(emb, dir), s"$work/codebooks")
      val cents = graft.sources.IndexStore.loadCentroids(spark, s"$work/centroids")
      val books = graft.sources.IndexStore.loadPqCodebooks(spark, s"$work/codebooks")
      graft.operators.Pq.ivfAdcTopK(emb, emb.filter(col("vec_id") < 10),
          cents, books, k = 5, nProbe = 2)
        .orderBy(col("query_id").asc, col("rank").asc)
    } finally graft.sources.LocalFs.deleteRecursively(work)
  }

  /** PRODUCTION PQ geometry (FAISS's standard PQ8x256): 8 subspaces ×
    * 256 codewords ⇒ 1-byte codes, 8 B per 64-dim vector (32×
    * compression), trained on a 512-vector bounded sample. The m=4/
    * k=16 catalog family gates the loop kernels at a small geometry;
    * this instance forces the kernel's large-k scan (256 candidates
    * per subspace) and the 2048-centroid literal codebook — the shape
    * a real 100 TB corpus would deploy. The kernels are loop-based,
    * so plan size and codegen behavior are IDENTICAL to the small
    * geometry (no janino cliff — that is the point of the r9 loop
    * rewrite, and this entry pins it under the oracle). */
  private val pq256M = 8
  private val pq256K = 256
  private val pq256SampleN = 512

  private val pq256Memo =
    new scala.collection.concurrent.TrieMap[String, Seq[graft.operators.Pq.Code]]()

  /** Actual production-geometry trainings — TrainMemoSpec pins
    * one-per-corpus across the pq256 entries and repeat sweeps. */
  private[graft] val pq256TrainRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  private def trainedPq256(emb: DataFrame, dir: String): Seq[graft.operators.Pq.Code] =
    pq256Memo.getOrElseUpdate(dir, {
      pq256TrainRuns.incrementAndGet()
      graft.operators.Pq.fitCodebooks(emb, pq256M, pq256K, pqIter, pq256SampleN)
    })

  /** ADC top-k at the production geometry — same 10 queries and k as
    * `sim_topk_pq`, different codec. The oracle replays the full
    * PQ8x256 loop (512-vector sample, per-subspace Lloyd at k=256,
    * argmin encode, reconstruction, cosine ranking). */
  def simTopKPq256(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.operators.Pq.adcTopK(emb, emb.filter(col("vec_id") < 10),
        trainedPq256(emb, dir), k = 5)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Recall@5 of the PRODUCTION-geometry codec ([[simTopKPq256]])
    * against exact brute force — the quality half of the PQ8x256
    * story: the m=4/k=16 gate fixture compresses 64 floats to FOUR
    * 4-bit codes (128×) and lands ~0.2 recall@5 — a hash-gated
    * NUMBER, not a quality claim — while the 8×256 deployment shape
    * (32×, 8 one-byte codes) must recover most of it. A codebook or
    * kernel regression that degrades production-shape rank
    * preservation flips this row red even while the small-geometry
    * gates stay green. */
  def pq256Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = graft.operators.Pq.adcTopK(emb, q, trainedPq256(emb, dir), k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    approx.join(exact, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(lit("pq256_adc").as("method"), col("n_exact"), col("n_hits"),
        Cols.r(col("n_hits").cast("double") / col("n_exact").cast("double"), 6).as("recall"))
  }

  /** Recall@5 of the PRODUCTION IVFADC composition — trained coarse
    * cells probed at nProbe=3 with the PQ8x256 codec scoring only the
    * probed cells' codes (the full Jégou §V deployment recipe at the
    * deployment codebook shape). Completes the gated recall matrix:
    * codec alone at both geometries (`pq_recall` 0.20, `pq256_recall`
    * 0.62), composition at the fixture geometry (`ivfadc_recall`),
    * and HERE the composition at the production geometry — so a
    * regression in either the probe or the production codebooks
    * flips a gated value. Shares the coarse centroids and pq256
    * codebooks with their standalone entries (zero new trainings). */
  def ivfadc256Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = graft.operators.Pq.ivfAdcTopK(emb, q,
        trainedCentroids(emb, dir, k = 8, nIter = 2), trainedPq256(emb, dir),
        k = 5, nProbe = 3)
      .select(col("query_id"), col("neighbor_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    approx.join(exact, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(lit("ivfadc256").as("method"), col("n_exact"), col("n_hits"),
        Cols.r(col("n_hits").cast("double") / col("n_exact").cast("double"), 6).as("recall"))
  }

  // ---- production-DIMENSION (256-d) gates ------------------------------

  /** The corpus at PRODUCTION dimensionality, synthesized MAP-SIDE
    * inside the entry (the StockCatalog.rawStock fixture pattern):
    * [[graft.ScaleUp.widenEmbedding]]'s 4× orthogonal-block widening —
    * norm-exact, inner-product-preserving, every output element the
    * EXACT float ±e·0.5 — so the widened corpus carries the identical
    * neighbor structure at 256 dims and both engines rebuild it
    * bit-identically from the same parquet (the oracle replays the
    * rotation/sign/scale as list arithmetic). Closes r11 Missing #1:
    * the 256-dim recall study ran from gitignored rehearsal dirs; now
    * the driver enforces it at every oracle SF. */
  private def widenedEmb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("embedding", graft.ScaleUp.widenEmbedding(4, col("embedding")))

  /** d256 geometry = the r11 study's measured recovery point: m
    * DEFAULTED from dimensionality ([[graft.operators.Pq
    * .fitCodebooksAuto]] → mForDim(256) = 32 subspaces of 8 dims —
    * the fixture's subvector width at production dim), k = 256
    * one-byte codewords, 512-vector sample, 2 Lloyd rounds. */
  private val pqD256K = 256
  private val pqD256SampleN = 512

  private val pqD256Memo =
    new scala.collection.concurrent.TrieMap[String, Seq[graft.operators.Pq.Code]]()

  /** d256 trainings — TrainMemoSpec pins one per corpus. */
  private[graft] val pqD256TrainRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  private def trainedPqD256(emb: DataFrame, dir: String): Seq[graft.operators.Pq.Code] =
    pqD256Memo.getOrElseUpdate(dir, {
      pqD256TrainRuns.incrementAndGet()
      graft.operators.Pq.fitCodebooksAuto(emb, pqD256K, pqIter, pqD256SampleN)
    })

  private val centroidD256Memo =
    new scala.collection.concurrent.TrieMap[String, Seq[(Int, Array[Double])]]()

  private def trainedCentroidsD256(emb: DataFrame, dir: String): Seq[(Int, Array[Double])] =
    centroidD256Memo.getOrElseUpdate(dir, graft.operators.KMeans.fit(emb, 8, 2))

  /** Measured floors under the minimum across the oracle corpora
    * (sf0.001/0.01/0.1 land 0.80/0.72/0.58 for the codec, 0.74/0.72/
    * 0.56 composed — vs 0.42 at the stale m=8), emitted as a
    * `meets_floor` column COMPUTED IN BOTH ENGINES: a codec or
    * kernel regression that drops production-dimension recall below
    * the study's level flips a hash-gated value. */
  private[analytics] val PqD256RecallFloor = 0.55
  private[analytics] val IvfadcD256RecallFloor = 0.50

  /** Recall@5 of the PQ codec at PRODUCTION DIMENSIONALITY (256-d,
    * m = 32 via the mForDim default) against exact brute force over
    * the same widened corpus — the committed form of the r11 recall
    * study (SCALE.md "Production-dimension embeddings"): the oracle
    * replays widening, PQ32x256 training, encode, reconstruction,
    * ranking, and the floor test. */
  def pqRecallD256(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.operators.Persisted.index(widenedEmb(spark, dir))
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = graft.operators.Pq.adcTopK(emb, q, trainedPqD256(emb, dir), k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    approx.join(exact, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(lit("pq_d256").as("method"), col("n_exact"), col("n_hits"),
        Cols.r(col("n_hits").cast("double") / col("n_exact").cast("double"), 6).as("recall"))
      .withColumn("meets_floor", col("recall") >= lit(PqD256RecallFloor))
  }

  /** Recall@5 of the FULL production deployment shape — 256-dim
    * corpus, trained coarse cells probed at nProbe = 3, PQ32x256 ADC
    * scoring only the probed cells' codes. Completes the recall
    * matrix's last axis (geometry × dimensionality × composition);
    * shares both trained artifacts across repeat sweeps via the d256
    * memos. */
  def ivfadcRecallD256(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.operators.Persisted.index(widenedEmb(spark, dir))
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = graft.operators.Pq.ivfAdcTopK(emb, q,
        trainedCentroidsD256(emb, dir), trainedPqD256(emb, dir),
        k = 5, nProbe = 3)
      .select(col("query_id"), col("neighbor_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    approx.join(exact, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(lit("ivfadc_d256").as("method"), col("n_exact"), col("n_hits"),
        Cols.r(col("n_hits").cast("double") / col("n_exact").cast("double"), 6).as("recall"))
      .withColumn("meets_floor", col("recall") >= lit(IvfadcD256RecallFloor))
  }

  /** Recall@5 of the composed IVFADC search against exact brute
    * force — the missing gate `pq_recall` does not cover: probing 2
    * of 8 cells can silently miss true neighbors, and nothing red-
    * flags a probe-quality regression without this row ([[annRecall]]
    * construction over [[graft.operators.Pq.ivfAdcTopK]]). Shares
    * both trained artifacts with their standalone entries — zero new
    * training jobs. */
  def ivfadcRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = graft.operators.Pq.ivfAdcTopK(emb, q,
        trainedCentroids(emb, dir, k = 8, nIter = 2), trainedPq(emb, dir),
        k = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    approx.join(exact, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(lit("ivfadc").as("method"), col("n_exact"), col("n_hits"),
        Cols.r(col("n_hits").cast("double") / col("n_exact").cast("double"), 6).as("recall"))
  }

  // ---- text analysis ---------------------------------------------------

  def textTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("lang"),
        TextAnalysis.nTokens(col("text")).cast("long").as("nt"),
        TextAnalysis.nSubwords(col("text")).as("nsw"),
        TextAnalysis.nRegexTokens(col("text")).as("nrt"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        sum(col("nsw")).as("total_subwords"),
        sum(col("nrt")).as("total_bpe_tokens"),
        Cols.r(sum(col("nt")).cast("double") / count(lit(1)), 4).as("avg_tokens"),
        sum(col("nc")).as("total_chars"))
      .orderBy(col("lang").asc)
  }

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    docFeatures(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("ttr"))
      .orderBy(col("quality").asc, col("doc_id").asc)
      .limit(50)

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdJoin(Tables.documents(spark, dir))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang").asc, col("predicted").asc)

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id").asc)

  def textWinnow(spark: SparkSession, dir: String): DataFrame =
    TextDedup.withWinnowFingerprints(Tables.documents(spark, dir), n = 3, w = 4)
      .select(col("doc_id"),
        size(col("winnow_fps")).cast("long").as("n_fp"),
        array_min(col("winnow_fps")).as("min_fp"),
        array_max(col("winnow_fps")).as("max_fp"))
      .orderBy(col("doc_id").asc)

  /** Passage-overlap pairs via winnowing fingerprints — the MOSS-style
    * shared-passage screen, top-50 by shared-fingerprint count. The
    * oracle replays fingerprints AND the overlap equi-join, closing
    * the one winnowing surface (`winnowOverlapPairs`) that was
    * spec-only before. */
  def winnowOverlap(spark: SparkSession, dir: String): DataFrame =
    TextDedup.winnowOverlapPairs(Tables.documents(spark, dir), n = 3, w = 4, minShared = 2)
      .orderBy(col("n_shared").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)

  /** Gopher-style repetition signals rolled up per language: average
    * top-bigram fraction and duplicated-bigram fraction — the
    * boilerplate/spam screen of a curation pipeline. Per-doc fractions
    * are rounded then decimal-summed so the language averages are
    * order-independent (identical on any cluster size and in the
    * oracle). */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rep = TextAnalysis.ngramRepetition(docs, n = 2)
    docs.select(col("doc_id"), col("lang"))
      .join(rep, "doc_id")
      .select(col("lang"),
        Cols.r(col("top_ngram_frac"), 6).as("tf"),
        Cols.r(col("dup_ngram_frac"), 6).as("df"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        Cols.r(Cols.avgExact(col("tf"), 6), 6).as("avg_top_frac"),
        Cols.r(Cols.avgExact(col("df"), 6), 6).as("avg_dup_frac"))
      .orderBy(col("lang").asc)
  }

  /** PII scrub report per language: match counts for the email/phone
    * rules plus the count of distinct redacted fingerprints. The
    * harness corpus is PII-free (counts are zero), which is exactly
    * what the gate should prove — the oracle replays both regexes and
    * the two-pass replacement, so a false positive on either side
    * breaks the hash. Real redaction behavior is spec-tested on a
    * fixture with actual emails/phones (RedactionSpec). */
  def textRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        Redaction.matchCount(col("text"), Redaction.emailPattern).as("ne"),
        Redaction.matchCount(col("text"), Redaction.phonePattern).as("np"),
        md5(Redaction.redact(col("text"))).as("rfp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ne")).as("total_emails"),
        sum(col("np")).as("total_phones"),
        sum(when(col("ne") === 0 && col("np") === 0, 1L).otherwise(0L)).as("n_clean"),
        countDistinct(col("rfp")).as("n_distinct_redacted"))
      .orderBy(col("lang").asc)

  /** Passage-level (4-word window) exact dedup rolled up per language:
    * how many passage instances repeat anywhere in the corpus — the
    * line-dedup signal of CCNet/RefinedWeb-style curation. */
  def passageDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Passages.withOccurrenceCounts(docs, w = 4)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("total_passages"),
        sum(when(col("n_occurrences") > 1, 1L).otherwise(0L)).as("dup_passages"))
      .withColumn("dup_frac",
        Cols.r(col("dup_passages").cast("double") / col("total_passages").cast("double"), 6))
      .orderBy(col("lang").asc)
  }

  /** The most-repeated 4-word passages corpus-wide — boilerplate
    * candidates for a blocklist. Deterministic top-k: total order on
    * (occurrences desc, passage asc). */
  def boilerplateTopk(spark: SparkSession, dir: String): DataFrame =
    Passages.boilerplateTopK(Tables.documents(spark, dir), w = 4, k = 10)

  /** Histogram grid for the profile medians — O(buckets) aggregation
    * state per column (see [[graft.operators.HistQuantiles]]). */
  private val ProfileBuckets = 8192

  /** Column profiling — the warehouse QA feature: one row per profiled
    * numeric column with null count, exact distinct count, rounded
    * min/max from a single aggregate pass (Spark plans the three
    * exact distincts as one Expand — no per-column re-scan) exploded
    * wide→long, and a bounded-state histogram median per column (exact
    * `percentile` would buffer every distinct value into one task —
    * the 100×-scale OOM pattern this avoids). */
  def profileEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def nNulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
    // one shared two-scan pass for all three medians (multiCut) instead
    // of three independent cut calls — same per-column arithmetic, same
    // dkCuts oracle chains
    val meds = graft.operators.HistQuantiles.multiCut(ev,
      Seq(col("event_id") -> "id_med", col("user_id") -> "u_med", col("value") -> "v_med"),
      0.5, ProfileBuckets)
    val agg = ev.agg(
      count(lit(1)).as("n_rows"),
      nNulls("event_id").as("id_nulls"), countDistinct(col("event_id")).as("id_distinct"),
      min(col("event_id")).cast("double").as("id_min"), max(col("event_id")).cast("double").as("id_max"),
      nNulls("user_id").as("u_nulls"), countDistinct(col("user_id")).as("u_distinct"),
      min(col("user_id")).cast("double").as("u_min"), max(col("user_id")).cast("double").as("u_max"),
      nNulls("value").as("v_nulls"), countDistinct(col("value")).as("v_distinct"),
      Cols.r(min(col("value")), 4).as("v_min"), Cols.r(max(col("value")), 4).as("v_max"))
      .crossJoin(broadcast(meds))
      .withColumn("id_median", Cols.r(col("id_med"), 4))
      .withColumn("u_median", Cols.r(col("u_med"), 4))
      .withColumn("v_median", Cols.r(col("v_med"), 4))
    agg.select(col("n_rows"), explode(array(
        struct(lit("event_id").as("column_name"), col("id_nulls").as("n_nulls"),
          col("id_distinct").as("n_distinct"), col("id_min").as("min_value"),
          col("id_max").as("max_value"), col("id_median").as("median_value")),
        struct(lit("user_id").as("column_name"), col("u_nulls").as("n_nulls"),
          col("u_distinct").as("n_distinct"), col("u_min").as("min_value"),
          col("u_max").as("max_value"), col("u_median").as("median_value")),
        struct(lit("value").as("column_name"), col("v_nulls").as("n_nulls"),
          col("v_distinct").as("n_distinct"), col("v_min").as("min_value"),
          col("v_max").as("max_value"), col("v_median").as("median_value"))
      )).as("p"))
      .select(col("p.column_name"), col("n_rows"), col("p.n_nulls"),
        col("p.n_distinct"), col("p.min_value"), col("p.max_value"), col("p.median_value"))
      .orderBy(col("column_name").asc)
  }

  /** Per-language hashed-feature class profiles (the hashing-trick
    * vectorizer at lang granularity, dim = 64): occupied dimensions,
    * exact L1/L2² masses, and the cosine of each language's profile
    * against English — integer arithmetic until the single final
    * rounded division, so the oracle replays hash → dim/sign → signed
    * sums → integer dots exactly. */
  def featLangProfile(spark: SparkSession, dir: String): DataFrame = {
    val dims = TextFeatures.hashedTermDims(Tables.documents(spark, dir),
      dim = 64, keep = Seq("lang"))
    val stats = dims.groupBy(col("lang")).agg(
      count(lit(1)).as("nnz"),
      sum(abs(col("cnt"))).as("l1"),
      sum(col("cnt") * col("cnt")).as("l2sq"))
    val en = dims.filter(col("lang") === "en")
      .select(col("dim"), col("cnt").as("ecnt"))
    val dots = dims.join(broadcast(en), "dim")
      .groupBy(col("lang")).agg(sum(col("cnt") * col("ecnt")).as("dot_en"))
    val enL2 = stats.filter(col("lang") === "en").select(col("l2sq").as("en_l2sq"))
    stats.join(dots, "lang").crossJoin(broadcast(enL2))
      .select(col("lang"), col("nnz"), col("l1"), col("l2sq"),
        (floor(col("dot_en").cast("double")
          / (sqrt(col("l2sq").cast("double")) * sqrt(col("en_l2sq").cast("double")))
          * 1e6 + lit(0.5)) / 1e6).as("cos_en"))
      .orderBy(col("lang").asc)
  }

  // ---- sketches --------------------------------------------------------

  /** KMV distinct-cardinality sketch of the event-id stream (k = 256,
    * rel std err ≈ 1/√254 ≈ 6%), with the exact distinct count and
    * the realized relative error in the same row — the profiling query
    * a 100 TB pipeline runs when exact countDistinct is too expensive
    * and it wants the error bar ON RECORD. The oracle replays hashing,
    * the min-k order statistic, and the estimator arithmetic. */
  def kmvDistinctEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id").cast("string").as("s"))
    val exact = ev.agg(countDistinct(col("s")).as("n_exact"))
    Sketches.kmvEstimate(ev, col("s"), 256)
      .crossJoin(broadcast(exact))
      .select(col("k"), col("n_exact"), col("kth_hash"), col("n_est"),
        Cols.r(abs(col("n_est") - col("n_exact")).cast("double")
          / col("n_exact").cast("double"), 4).as("rel_err"))
  }

  /** CROSS-RUN SKETCH PERSISTENCE GATE — the composability property
    * sketches exist for at 100 TB: distinct-count state built by one
    * job, PERSISTED as a parquet artifact, loaded by a later job and
    * MERGED with that job's own state, must estimate exactly like a
    * single-shot sketch of the union (KMV merge = distinct-union +
    * re-truncate to the k smallest — deterministic, so the equality
    * is exact, not approximate). Run 1 sketches the first half of
    * events (sliced ON event_id, the incr_load watermark convention)
    * and writes the min-k set to parquet; run 2 sketches the second
    * half, loads run 1's artifact, merges, estimates. The oracle is
    * the SINGLE-SHOT full-corpus KMV replay — any state the round
    * trip or the merge loses or perturbs flips the hash. This is the
    * daily-sketches-merged-monthly shape that makes distinct counts
    * O(k) per period instead of O(period · distinct). */
  def kmvPersistMerge(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    // event_id IS NOT NULL is part of the CONTRACT, not the fixture:
    // the <= cut / > cut slice must be total over the counted rows (a
    // NULL event_id row would silently fall out of both halves and
    // flip the hash), and the empty-corpus cut fetch must not NPE
    val ev = Tables.events(spark, dir)
      .filter(col("event_id").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id").cast("string").as("s"))
    val cut = Option(ev.agg((max(col("event_id")) / 2).cast("long").as("c"))
      .head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val work = graft.sources.LocalFs.scratchDir("graft_kmv_persist")
    try {
      val p1 = s"$work/run1"
      Sketches.kmvSketch(ev.filter(col("event_id") <= cut), col("s"), k)
        .write.mode("overwrite").parquet(p1)
      val merged = Sketches.merge(
        spark.read.parquet(p1),
        Sketches.kmvSketch(ev.filter(col("event_id") > cut), col("s"), k), k)
      val exact = ev.agg(countDistinct(col("s")).as("n_exact"))
      val rollup = Sketches.estimate(merged, k)
        .crossJoin(broadcast(exact))
        .select(col("k"), col("n_exact"), col("kth_hash"), col("n_est"),
          Cols.r(abs(col("n_est") - col("n_exact")).cast("double")
            / col("n_exact").cast("double"), 4).as("rel_err"))
      val settled = rollup.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(settled, 1), rollup.schema)
    } finally graft.sources.LocalFs.deleteRecursively(work)
  }

  /** [[kmvPersistMerge]]'s HLL twin — same two-run persist/load/merge
    * shape over the REGISTER-table state (≤ m thin rows; union =
    * per-bucket MAX, deterministic and exact), gated against the
    * single-shot full-corpus HLL replay. Together the two entries
    * cover both sketch families' cross-run composability. */
  def hllPersistMerge(spark: SparkSession, dir: String): DataFrame = {
    val m = 64
    // same slice-totality/empty-corpus contract as [[kmvPersistMerge]]
    val ev = Tables.events(spark, dir)
      .filter(col("event_id").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id").cast("string").as("s"))
    val cut = Option(ev.agg((max(col("event_id")) / 2).cast("long").as("c"))
      .head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val work = graft.sources.LocalFs.scratchDir("graft_hll_persist")
    try {
      val p1 = s"$work/run1"
      Sketches.hllRegisters(ev.filter(col("event_id") <= cut), col("s"), m)
        .write.mode("overwrite").parquet(p1)
      val merged = Sketches.hllMergeRegisters(
        spark.read.parquet(p1),
        Sketches.hllRegisters(ev.filter(col("event_id") > cut), col("s"), m))
      val exact = ev.agg(countDistinct(col("s")).as("n_exact"))
      val rollup = Sketches.hllEstimateFromRegisters(merged, m)
        .crossJoin(broadcast(exact))
        .select(col("m"), col("n_present"), col("n_exact"), col("n_est"),
          Cols.r(abs(col("n_est") - col("n_exact")).cast("double")
            / col("n_exact").cast("double"), 4).as("rel_err"))
      val settled = rollup.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(settled, 1), rollup.schema)
    } finally graft.sources.LocalFs.deleteRecursively(work)
  }

  /** Estimated distinct-user overlap between the click and purchase
    * audiences via KMV inclusion–exclusion (k = 64) — the cheap
    * audience-intersection profile: only two k-long min-sets move,
    * never the user sets themselves. */
  def kmvUserOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("user_id").isNotNull)
    def users(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id").cast("string").as("s"))
    Sketches.kmvOverlap(users("click"), col("s"), users("purchase"), col("s"), 64)
  }

  /** Salted join under the oracle gate: per-event-type value rollup
    * where the events⋈dates side runs through [[graft.operators
    * .SkewJoin.saltedJoin]] (16-way salt on a per-row deterministic
    * hash, dim side replicated). The oracle is the PLAIN join+rollup —
    * salting must be result-invisible, so the hash gate directly
    * certifies the skew machinery's multiset identity on harness
    * data, complementing the randomized property test. */
  def skewSaltedRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("ts").isNotNull)
      .select(col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
    // small side: per-date weekday numbers (a genuine dimension join;
    // numeric dow — weekday NAMES are locale-dependent across engines)
    val dates = ev.select(col("event_date")).distinct()
      .withColumn("dow", dayofweek(col("event_date").cast("date")))
    graft.operators.SkewJoin.saltedJoin(ev, dates, Seq("event_date"), factor = 16)
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_events"),
        Cols.r(Cols.sumExact(col("value"), 2), 2).as("total_value"))
      .orderBy(col("event_type").asc, col("dow").asc)
  }

  /** Bloom-filter semi-join reduction under the oracle gate: lineitem
    * is pre-filtered by a Bloom bitset built from a SELECTIVE orders
    * subset (~10% of orders) before the equi-join — the runtime-filter
    * pattern that shrinks the fact-side shuffle by the join's
    * selectivity at 100 TB. The oracle is the PLAIN join+rollup: the
    * reduction must be result-invisible (no false negatives, false
    * positives removed by the real join), so the hash gate certifies
    * the whole bitset machinery on harness data. */
  def bloomJoinUrgent(spark: SparkSession, dir: String): DataFrame = {
    val li  = Tables.lineitem(spark, dir)
    val sel = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000)
      .select(col("o_orderkey"), col("o_orderdate"))
    graft.operators.BloomFilterJoin.reducedJoin(li, "l_orderkey", sel, "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        Cols.r(Cols.sumExact(col("l_extendedprice"), 2), 2).as("total_price"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Per-group top-k through the bounded-state [[TopK]] aggregator —
    * top-3 events per type by (value DESC, event_id ASC). The window
    * form would shuffle + sort the whole events table; this plan
    * partial-aggregates O(k) heaps per group map-side (plan-asserted
    * in TopKSpec: two ObjectHashAggregates, no WindowExec), so the
    * exchange carries ≤ partitions × groups × k tuples at any scale.
    * The oracle replays it as the row_number form — identical output,
    * opposite scale posture. */
  def topkValueByType(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.topKByKey(Tables.events(spark, dir),
        col("event_type"), col("value"), col("event_id"), k = 3)
      .select(col("g").as("event_type"), col("rank"),
        col("id").as("event_id"), col("score").as("value"))
      .orderBy(col("event_type").asc, col("rank").asc)

  /** Per-day distinct-user estimates via the typed KMV [[Aggregator]]
    * (k = 32, one pass, O(k) state per group — the per-group sketch
    * form a warehouse materializes daily) next to the exact per-day
    * countDistinct and the realized error. The oracle replays the
    * per-group min-k with a row_number cut. */
  def kmvDailyUsers(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val kmv = udaf(Sketches.kmvAgg(k))
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("user_id").cast("string").as("s"))
      .withColumn("h", Sketches.kmvHash(col("s")))
    ev.groupBy(col("event_date"))
      .agg(countDistinct(col("s")).as("n_exact"), kmv(col("h")).as("mins"))
      .select(col("event_date"), col("n_exact"),
        Sketches.estimateFromMins(col("mins"), k).as("n_est"))
      .withColumn("rel_err",
        Cols.r(abs(col("n_est") - col("n_exact")).cast("double")
          / col("n_exact").cast("double"), 4))
      .orderBy(col("event_date").asc)
  }

  /** ROLLING 7-day distinct users via KMV sketch merge — the query
    * that motivates mergeable sketches at scale: exact rolling
    * distinct must re-scan every (day, user) pair per window, while
    * the sketch path merges 7 pre-reduced O(k) daily min-sets per
    * day (explode + re-aggregate IS the union-trim merge,
    * property-tested in SketchesSpec). The exact side here is the
    * reference gauge for the realized error, not the scale path.
    * Oracle replays hashing, per-window min-32 rank cut, and the
    * estimator's literal constants. */
  def kmvRollingUsers(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val kmv = udaf(Sketches.kmvAgg(k))
    val dayUsers = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(to_date(col("ts")).as("d"), col("user_id").cast("string").as("s"))
      .distinct()
    val daily = dayUsers.withColumn("h", Sketches.kmvHash(col("s")))
      .groupBy(col("d")).agg(kmv(col("h")).as("mins")) // days × O(k) state
    val days = daily.select(col("d").as("day"))
    val est = broadcast(days)
      .join(daily, col("d").between(date_sub(col("day"), 6), col("day")))
      .select(col("day"), explode(col("mins")).as("h"))
      .groupBy(col("day")).agg(kmv(col("h")).as("mins7"))
      .select(col("day"), Sketches.estimateFromMins(col("mins7"), k).as("n_est"))
    val exact = broadcast(days)
      .join(dayUsers, col("d").between(date_sub(col("day"), 6), col("day")))
      .groupBy(col("day")).agg(countDistinct(col("s")).as("n_exact"))
    exact.join(est, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_exact"), col("n_est"),
        Cols.r(abs(col("n_est") - col("n_exact")).cast("double")
          / col("n_exact").cast("double"), 4).as("rel_err"))
      .orderBy(col("day").asc)
  }

  /** Exact bag-of-words COSINE as the verification stage over
    * MinHash-LSH candidates — the alternative verifier to Jaccard
    * (`dedup_minhash_lsh`) on the same candidate generator. The
    * 100 TB shape: cosine is computed for CANDIDATE pairs only
    * (broadcastable pair list ⋈ tf index on (doc, token)), never
    * all-pairs. Portability needs no transcendentals: integer tf dot
    * products and sums are exact, and IEEE-754 `sqrt` is correctly
    * rounded on every engine, so `dot / (√ssq_a · √ssq_b)` is
    * bit-identical in Spark and DuckDB. */
  def cosineVerifyLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cands = TextDedup.lshCandidates(docs, n = 3, numHashes = 16, bands = 8)
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val norms = tf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("ssq"))
    val dot = broadcast(cands)
      .join(tf.select(col("doc_id").as("doc_a"), col("t"), col("tf").as("tf_a")), Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("t"), col("tf").as("tf_b")), Seq("doc_b", "t"))
      .groupBy(col("doc_a"), col("doc_b")).agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    dot
      .join(norms.select(col("doc_id").as("doc_a"), col("ssq").as("ssq_a")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("ssq").as("ssq_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Cols.r(col("dot").cast("double")
          / (sqrt(col("ssq_a").cast("double")) * sqrt(col("ssq_b").cast("double"))), 6).as("cosine"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** Global HLL distinct estimate of the event-id stream (m = 64
    * registers, rel std err ≈ 1.04/√64 ≈ 13%) next to the exact count
    * and realized error — the FIXED-state cousin of
    * [[kmvDistinctEvents]]: state is m small ints no matter the
    * cardinality, and Spark's partial aggregation IS the sketch merge.
    * The oracle replays hashing, bucketing, the integer rho, register
    * maxima, the exact power-of-two harmonic sum, and the estimator's
    * literal constants — the entire sketch, not a tolerance check. */
  def hllDistinctEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id").cast("string").as("s"))
    val exact = ev.agg(countDistinct(col("s")).as("n_exact"))
    Sketches.hllDistinct(ev, col("s"), 64)
      .crossJoin(broadcast(exact))
      .select(col("m"), col("n_present"), col("n_exact"), col("n_est"),
        Cols.r(abs(col("n_est") - col("n_exact")).cast("double")
          / col("n_exact").cast("double"), 4).as("rel_err"))
  }

  /** Per-day distinct users via the per-group HLL ([[Sketches
    * .hllDistinctBy]], m = 64) next to the exact per-day countDistinct.
    * Daily audiences sit near/below 2.5·m, so this entry exercises the
    * LINEAR-COUNTING branch (the precomputed floor(m·ln(m/V)) table)
    * as well as the registers — the branch [[hllDistinctEvents]]'s
    * high-cardinality stream never takes. */
  def hllDailyUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("user_id").cast("string").as("s"))
    val exact = ev.groupBy(col("event_date")).agg(countDistinct(col("s")).as("n_exact"))
    exact.join(
        Sketches.hllDistinctBy(ev, col("event_date"), col("s"), 64)
          .withColumnRenamed("g", "event_date"), "event_date")
      .select(col("event_date"), col("n_exact"), col("n_present"), col("n_est"))
      .orderBy(col("event_date").asc)
  }

  /** END-TO-END STREAMING GATE: the harness events flow through a real
    * Structured Streaming pipeline — a file-source stream over 5
    * parquet chunk files (one replayed: at-least-once delivery), one
    * micro-batch per file (`maxFilesPerTrigger = 1`, AvailableNow),
    * each batch foreachBatch-MERGEd ([[graft.streaming.Streams
    * .upsertSink]] → [[graft.operators.Upsert.mergeIntoPath]]) into a
    * parquet target with checkpointing — and the SETTLED target is
    * rolled up as the query result. The oracle is the plain batch
    * rollup over events: any row the stream loses, duplicates
    * (including the replayed chunk the MERGE must collapse), or
    * corrupts across batch boundaries flips the hash. This gates the
    * streaming machinery itself, which the MemoryStream specs cannot:
    * source→checkpoint→sink wiring on real files.
    *
    * The driver-side fetch is the final ≤|event types| rollup rows
    * (bounded parameter class), so the scratch dir can be deleted
    * before returning. */
  /** One-JOB chunk layout for the file-source gates: every chunk lands
    * as its own parquet file under `inDir/_b=<i>/` via a single
    * partitionBy write (hash-partitioned on `_b` ⇒ one writer task
    * per chunk ⇒ one file per chunk, synthesis at engine width —
    * see [[graft.streaming.Streams.writeOrderedChunks]]), then
    * per-file mtimes are stamped strictly increasing so the
    * file-source's oldest-first ordering IS the intended batch
    * timeline. Replaces N sequential write JOBS (~0.2–0.3 s of fixed
    * job cost each on a loaded scheduler) with one; the `_b` column
    * comes back as a partition column on read and is dropped before
    * the pipeline. The explicit stamping also closes the
    * same-mtime-tick race the sequential form had to handle. */
  // chunk-fixture helpers shared with the stock streaming gate —
  // moved to [[graft.streaming.Streams]] (r11); these delegates keep
  // the existing streaming entries' call sites unchanged
  private def writeStreamChunks(inDir: String, chunks: Seq[DataFrame]): Unit =
    graft.streaming.Streams.writeOrderedChunks(inDir, chunks)
  private def chunkSchema(data: DataFrame) =
    graft.streaming.Streams.chunkSchema(data)

  /** PARTITION-SCOPED incremental MERGE gate ([[graft.operators
    * .Upsert.mergePartitionedPath]] — the operator a date-partitioned
    * 100 TB fact needs so a daily batch rewrites O(touched dates),
    * never O(target); UpsertSpec pins byte-identical untouched
    * partitions, THIS entry hash-gates the end state): three
    * deterministic key batches merge sequentially into a
    * date-partitioned parquet target, the third re-emitting a slice
    * of batch 0's keys with a CHANGED partition value (+365 days) and
    * an updated value — the matched-key-moves-partitions case the
    * semi-probe exists for (scoping to source partitions alone would
    * leave stale duplicates; the rollup's count doubling would flip
    * the hash). The SETTLED target rolls up per date against a purely
    * relational oracle of the same final state. Keys are deduped to
    * one row per event_id first (lexicographically-greatest tuple —
    * order-independent, NULL-free by filter) so MERGE semantics are
    * well-defined regardless of fixture replay. */
  def incrMergePartitioned(spark: SparkSession, dir: String): DataFrame =
    mergeGate(spark, dir, "graft_pmerge", hashedKey = false,
      graft.operators.Upsert.mergePartitionedPath(spark, _, _,
        keys = Seq("event_id"), partCol = "event_date"),
      spark.read.parquet(_))

  /** HASH-KEYED partition-scoped MERGE gate — the same three-batch
    * fixture as [[incrMergePartitioned]] but merging on a sha256
    * surrogate key (`ekey = sha256(event_id)`): the reference's own
    * key shape (`observation_sk = SHA2(...)`,
    * /root/reference/sql/02_load_data.sql:86-91) and the DEGENERATE
    * case for range-based probe pruning — every partition's key
    * [min,max] spans ~the whole hex space, so only the index's
    * record-level (key-hash, partition) side can bound the probe
    * ([[graft.operators.Upsert]] KeyIdx; UpsertSpec pins the scan
    * accounting, ProbeScaling the flat curve). The oracle replays the
    * merged end state keyed on the SAME sha256 expression, so a probe
    * that silently missed a matched hashed key (stale duplicate, lost
    * move) flips the rollup hash. */
  def incrMergeHashKeys(spark: SparkSession, dir: String): DataFrame =
    mergeGate(spark, dir, "graft_pmerge_hash", hashedKey = true,
      graft.operators.Upsert.mergePartitionedPath(spark, _, _,
        keys = Seq("ekey"), partCol = "event_date"),
      spark.read.parquet(_))

  /** MANIFEST-COMMITTED partition-scoped MERGE gate — the flat-object-
    * store twin of [[incrMergePartitioned]]: the SAME three-batch
    * fixture (moves, updates, inserts) driven through
    * [[graft.operators.Upsert.mergePartitionedManifest]] and read back
    * with [[graft.operators.Upsert.readManifest]], so the
    * generation-directory + one-manifest-file commit protocol
    * ([[graft.sources.ManifestStore]] — what restores snapshot
    * atomicity where directory rename is copy+delete) is hash-gated
    * end to end, not just spec-covered. The oracle is the identical
    * relational replay: a stale duplicate left by a mis-scoped
    * generation install, a row lost to a torn commit, or a
    * mis-resolved manifest flips count/sum here. */
  def incrMergeManifest(spark: SparkSession, dir: String): DataFrame =
    mergeGate(spark, dir, "graft_mmerge", hashedKey = false,
      graft.operators.Upsert.mergePartitionedManifest(spark, _, _,
        keys = Seq("event_id"), partCol = "event_date"),
      graft.operators.Upsert.readManifest(spark, _))

  /** Fixture driver of the three partition-scoped MERGE gates
    * ([[incrMergePartitioned]], [[incrMergeHashKeys]],
    * [[incrMergeManifest]]): dedupe events to one row per event_id
    * (plus the sha256 `ekey` when `hashedKey`), `merge(target, batch)`
    * the three batches — the third carrying the moved/updated slice of
    * batch 0 — into a scratch target, then roll up `read(target)` per
    * date and return the settled rows. */
  private def mergeGate(spark: SparkSession, dir: String, scratch: String, hashedKey: Boolean,
      merge: (String, DataFrame) => Long, read: String => DataFrame): DataFrame = {
    val keyCol = if (hashedKey) Seq(sha2(col("event_id").cast("string"), 256).as("ekey")) else Nil
    val base = Tables.events(spark, dir)
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_date(col("ts")).as("event_date"), col("value"))
      .groupBy(col("event_id"))
      .agg(max(struct(col("event_date"), col("user_id"), col("event_type"), col("value"))).as("s"))
      .select(keyCol ++ Seq(col("event_id"), col("s.event_date").as("event_date"),
        col("s.user_id").as("user_id"), col("s.event_type").as("event_type"),
        col("s.value").as("value")): _*)
      // the deduped base feeds all three batches (and the moved slice):
      // persist ONCE inside the timed entry so the full-events dedupe
      // shuffle runs once per gate, not once per batch consultation
      // (guide §1.2 step 1 — don't recompute what you already have)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val work = graft.sources.LocalFs.scratchDir(scratch)
    // try/finally (not success-path-only cleanup): a failed merge
    // batch must not leave the cached base + scratch dir resident for
    // the rest of the JVM, skewing every later entry's memory headroom
    try {
      val target = s"$work/fact"
      val cols = ((if (hashedKey) Seq("ekey") else Nil) ++
        Seq("event_id", "user_id", "event_type", "event_date", "value")).map(col)
      val b0 = base.filter(col("event_id") % 3 === 0).select(cols: _*)
      val b1 = base.filter(col("event_id") % 3 === 1).select(cols: _*)
      // batch 2 = its own keys + the moved/updated correction slice of b0
      val moved = b0.filter(col("event_id") % 7 === 0)
        .withColumn("event_date", date_add(col("event_date"), 365))
        .withColumn("value", col("value") + lit(1.0))
      val b2 = base.filter(col("event_id") % 3 === 2).select(cols: _*)
        .unionByName(moved.select(cols: _*))
      Seq(b0, b1, b2).foreach(merge(target, _))
      val rollup = read(target)
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Cols.r(Cols.sumExact(col("value")), 2).as("total_value"))
        .select(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
          col("n_events"), col("n_users"), col("total_value"))
        .orderBy(col("event_date").asc)
      val settled = rollup.collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(settled, 1), rollup.schema)
    } finally {
      base.unpersist(blocking = false)
      graft.sources.LocalFs.deleteRecursively(work)
    }
  }

  def streamMergeEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    // a deterministic 20% slice: the gate certifies the MACHINERY
    // (batching, checkpointing, MERGE state across batches, replay
    // collapse), which is volume-independent — streaming the full fact
    // would only multiply the per-batch target rewrites the bench pays
    val ev = Tables.events(spark, dir)
      .filter(pmod(col("event_id"), lit(5)) === 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
    val work = graft.sources.LocalFs.scratchDir("graft_stream_merge")
    val inDir = s"$work/in"; val target = s"$work/target"; val ckpt = s"$work/ckpt"
    // 2 deterministic hash chunks, one file each, plus a replay of
    // chunk 0 — three micro-batches, one of them a pure duplicate.
    // Three is the minimum that proves cross-batch MERGE state AND the
    // replay collapse; more batches only multiply the fixed per-batch
    // target rewrite the bench pays (same argument as the dedup gate)
    writeStreamChunks(inDir, Seq(
      ev.filter(pmod(col("event_id"), lit(2)) === 0),
      ev.filter(pmod(col("event_id"), lit(2)) === 1),
      ev.filter(pmod(col("event_id"), lit(2)) === 0)))
    // Stateful-stream shuffle width is pinned at FIRST query start (it
    // becomes the state-store partition count, recorded in the
    // checkpoint): the session's 32 would mean 32 state/sink partition
    // commits PER MICRO-BATCH for a bounded gate slice — pure fixed
    // overhead. 2 is the gate's own width (still plural, so the
    // cross-batch state is genuinely partitioned across stores — and
    // measured ~0.25 s/gate cheaper than 4); a production stream
    // sizes this to its key cardinality. Pinning + the scratch-
    // checkpoint conf pair scoped by withGateSession, restored on
    // exit (the mains run queries sequentially, so the scope is
    // exact).
    graft.streaming.Streams.withGateSession(spark) { _ =>
      val q = graft.streaming.Streams.upsertSink(
          spark.readStream.schema(chunkSchema(ev)).option("maxFilesPerTrigger", 1)
            .parquet(inDir).drop("_b"),
          target, ckpt, keys = Seq("event_id"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val rollup = spark.read.parquet(target)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_ids"),
        Cols.r(Cols.sumExact(col("value")), 2).as("total_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type").asc)
    val settled = rollup.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(settled, 1), rollup.schema)
    graft.sources.LocalFs.deleteRecursively(work)
    out
  }

  /** Sixth end-to-end streaming gate: the foreachBatch MERGE sink
    * maintaining a DATE-PARTITIONED target through
    * [[graft.operators.Upsert.mergePartitionedPath]]
    * (`Streams.upsertSink(partCol = ...)`) — each micro-batch rewrites
    * ONLY the partitions it touches (untouched partition files stay
    * byte-identical, StreamsSpec-pinned), which is the incremental
    * shape a date-partitioned 100 TB streaming sink needs: per-batch
    * cost is O(touched partitions), not O(target). Batch 2 replays
    * batch 0, so the replay must collapse through partition-scoped
    * surgery exactly as it does through the full-path MERGE
    * ([[streamMergeEvents]]). The settled per-date rollup is
    * hash-compared against the batch oracle: a stale duplicate, a
    * lost row, or a partition the scoped rewrite missed flips
    * n_events/n_ids/total_value. Same width-pinning rationale as
    * [[streamMergeEvents]]. */
  def streamMergePartitioned(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, dir)
      .filter(pmod(col("event_id"), lit(5)) === 2 && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
    val work = graft.sources.LocalFs.scratchDir("graft_stream_pmerge")
    val inDir = s"$work/in"; val target = s"$work/target"; val ckpt = s"$work/ckpt"
    writeStreamChunks(inDir, Seq(
      ev.filter(pmod(col("event_id"), lit(2)) === 0),
      ev.filter(pmod(col("event_id"), lit(2)) === 1),
      ev.filter(pmod(col("event_id"), lit(2)) === 0)))
    graft.streaming.Streams.withGateSession(spark) { _ =>
      val q = graft.streaming.Streams.upsertSink(
          spark.readStream.schema(chunkSchema(ev)).option("maxFilesPerTrigger", 1)
            .parquet(inDir).drop("_b")
            .withColumn("event_date", to_date(col("ts"))),
          target, ckpt, keys = Seq("event_id"), partCol = Some("event_date"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val rollup = spark.read.parquet(target)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_ids"),
        Cols.r(Cols.sumExact(col("value")), 2).as("total_value"))
      .select(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("n_events"), col("n_ids"), col("total_value"))
      .orderBy(col("event_date").asc)
    val settled = rollup.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(settled, 1), rollup.schema)
    graft.sources.LocalFs.deleteRecursively(work)
    out
  }

  /** Third end-to-end streaming gate: WATERMARKED WINDOWED AGGREGATION
    * through a file-source stream into a MERGE-by-window sink, settled
    * table hash-compared against the batch oracle. Three micro-batches
    * split BY TIME (first half-month, second half, then a REPLAY of
    * the first half's FIRST DAY): time-ordering means batch 2's rows
    * are never late, while every replayed row arrives far behind the
    * advanced watermark and is dropped by the late-data rule — the
    * replay collapses via watermark discipline rather than key state,
    * the semantics a windowed production pipeline actually relies on.
    * Per-window sums are decimal-exact (order-independent across
    * batch boundaries); update-mode emission + MERGE on the hour key
    * makes re-emitted windows idempotent. Same width-pinning rationale
    * as [[streamMergeEvents]]. */
  def streamHourlyRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, dir)
      .filter(pmod(col("event_id"), lit(5)) === 1 && col("ts").isNotNull)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val mid = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
    val work = graft.sources.LocalFs.scratchDir("graft_stream_hourly")
    val inDir = s"$work/in"; val target = s"$work/target"; val ckpt = s"$work/ckpt"
    // Three time-split batches via one write job ([[writeStreamChunks]]
    // stamps strictly increasing mtimes, so batch order IS the
    // timeline): first half-month, second half, then a replay of the
    // FIRST DAY of the first half. The replay slice is deliberately
    // the stream's oldest day: the late-record filter evaluates
    // against the watermark as of the PREVIOUS batch's completion
    // (one batch of lag, verified empirically), so for the replay
    // that is AT LEAST the first half's fully-advanced watermark
    // (max(chunk0.ts) − 2 h ≈ Jan 15 22:00) — Jan-1 rows sit two
    // weeks behind it, and the whole replayed file is dropped by
    // watermark discipline with margin. (The r6 form replayed ALL of
    // chunk0, whose tail rows were only 2 h behind chunk0's watermark;
    // that needed a fourth single-row SPACER batch to advance the
    // lagged filter past them — one whole micro-batch of fixed cost
    // spent compensating for the replay slice being too fresh.)
    val chunk0 = ev.filter(col("ts") < mid)
    val chunk1 = ev.filter(col("ts") >= mid)
    val replay = chunk0.filter(col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    writeStreamChunks(inDir, Seq(chunk0, chunk1, replay))
    graft.streaming.Streams.withGateSession(spark) { _ =>
      val agg = spark.readStream.schema(chunkSchema(ev))
        .option("maxFilesPerTrigger", 1).parquet(inDir).drop("_b")
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(30,2)")).as("tv"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:00").as("hour"),
          col("n_events"), col("tv"))
      val q = graft.streaming.Streams.upsertSink(agg, target, ckpt, keys = Seq("hour"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val settledDf = spark.read.parquet(target)
      .select(col("hour"), col("n_events"),
        Cols.r(col("tv").cast("double"), 2).as("total_value"))
      .orderBy(col("hour").asc)
    val settled = settledDf.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(settled, 1), settledDf.schema)
    graft.sources.LocalFs.deleteRecursively(work)
    out
  }

  /** FOURTH end-to-end streaming gate: WATERMARKED STREAM–STREAM
    * INTERVAL JOIN ([[graft.streaming.Streams.viewPurchaseJoin]] —
    * both sides carry 2-hour watermarks, the join condition bounds
    * event-time distance to the hour before the purchase, so buffered
    * state expires instead of growing with the stream). Each side is
    * its own 2-batch file-source stream split BY TIME at mid-month:
    * a second-half purchase matching a first-half view near the
    * boundary can only come from JOIN STATE buffered across batches —
    * the machinery this gate exists to certify (MemoryStream specs
    * cover semantics; this covers source→state→append-sink wiring on
    * real files). Inner stream-stream joins emit matches eagerly, so
    * with time-ordered batches and delay (2 h) > join window (1 h)
    * the settled append sink holds EXACTLY the batch range join's
    * match set, which is what the oracle replays (a plain interval
    * join + per-day rollup). The driver-side fetch is ≤ |days| rollup
    * rows; scratch deleted before returning. */
  /** Volume threshold for [[streamJoinViews]]'s user-cohort slice:
    * below it (the sf0.001/sf0.01 oracle SFs) the gate streams the
    * FULL feed — the 1-hour interval is sparse enough there that a
    * slice would leave zero matches to certify; at or above it the
    * feed restricts to the `user_id % 5 = 1` cohort. Because the
    * interval join equi-keys on user_id, a user-complete slice
    * preserves the per-user match structure EXACTLY (measured at
    * sf0.1: 67 matches incl. both cross-batch boundary matches — the
    * state rows this gate exists to certify), while fixture writes,
    * join input, and two-sided state all drop 5×. The oracle replays
    * the identical dispatch as a scalar-subquery gate, so both
    * branches sit under the hash-equality gate. */
  private val StreamJoinSliceThreshold = 200000L

  /** ts-non-null events count memo backing the dispatch — one count
    * job per corpus (the embCountMemo pattern; `evCountJobs` counts
    * actual executions so DataOpsCountMemoSpec can pin the one-job
    * claim). VALID ONLY FOR IMMUTABLE FIXTURE DIRS (embCountMemo's
    * contract): the memo keys on `dir` alone and deliberately ignores
    * the DataFrame argument, so it must only ever be fed the canonical
    * ts-non-null events frame for that dir — a mutated dir or a
    * differently-filtered frame would take a stale/incorrect branch
    * and silently diverge from the oracle's per-run recount. */
  private val evCountMemo = new scala.collection.concurrent.TrieMap[String, Long]()
  private[analytics] val evCountJobs = new java.util.concurrent.atomic.AtomicInteger(0)
  private[analytics] def evCount(ev: DataFrame, dir: String): Long =
    evCountMemo.getOrElseUpdate(dir, { evCountJobs.incrementAndGet(); ev.count() })

  /** `sliceThreshold` defaults to the catalog dispatch; StreamsSpec
    * forces 0 to drive the SLICED branch end-to-end at a small SF
    * (the driver's sf0.01 oracle run exercises only the full branch,
    * so without the forced-slice spec a sliced-branch regression
    * would pass the correctness gate silently). */
  def streamJoinViews(spark: SparkSession, dir: String,
      sliceThreshold: Long = StreamJoinSliceThreshold): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    // measured r9/r10 decomposition (tools.StreamJoinProbe, SCALE.md):
    // the warm 3.3 s at sf0.1 is ~2.4 s of fixed 3-micro-batch
    // machinery (per-batch replan + 8 state-store commits + WAL/offset
    // log, incl. the mandatory zero-row watermark-eviction batch) and
    // ~0.9 s of volume work (fixture writes, join input); at sf100 the
    // volume share grew to ~390 s. The user-cohort dispatch above cuts
    // the volume share 5× wherever the full feed is not needed for
    // match coverage.
    val evAll = Tables.events(spark, dir).filter(col("ts").isNotNull)
    // `%`, not pmod: the oracle and the verbatim-SQL path both use
    // `user_id % 5 = 1`, and pmod disagrees with % for negative
    // dividends — this keeps all three implementations on ONE modulo
    // rule even if a future fixture ships negative user ids
    val ev = if (evCount(evAll, dir) >= sliceThreshold)
      evAll.filter(col("user_id") % 5 === 1) else evAll
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val mid = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
    val work = graft.sources.LocalFs.scratchDir("graft_stream_join")
    val vDir = s"$work/views"; val pDir = s"$work/purchases"
    val target = s"$work/target"; val ckpt = s"$work/ckpt"
    writeStreamChunks(vDir,
      Seq(views.filter(col("ts") < mid), views.filter(col("ts") >= mid)))
    writeStreamChunks(pDir,
      Seq(purchases.filter(col("ts") < mid), purchases.filter(col("ts") >= mid)))
    // 2 state partitions, same as the sibling gates. Measured r10
    // alternative: partitions=1 halves the 8 state-store commits but
    // serializes each batch's addBatch work into one task — net
    // SLOWER (4.0 s vs 3.4 s warm at sf0.1), so the wider join
    // parallelism wins even at this volume.
    graft.streaming.Streams.withGateSession(spark) { _ =>
      val vs = spark.readStream.schema(chunkSchema(views))
        .option("maxFilesPerTrigger", 1).parquet(vDir).drop("_b")
      val ps = spark.readStream.schema(chunkSchema(purchases))
        .option("maxFilesPerTrigger", 1).parquet(pDir).drop("_b")
      val q = graft.streaming.Streams.viewPurchaseJoin(vs, ps)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", target)
        .start()
      q.awaitTermination()
    }
    val settledDf = spark.read.parquet(target)
      .groupBy(date_format(col("purchase_ts"), "yyyy-MM-dd").as("purchase_date"))
      .agg(count(lit(1)).as("n_matches"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        Cols.r(Cols.sumExact(col("value"), 2), 2).as("total_value"))
      .orderBy(col("purchase_date").asc)
    val settled = settledDf.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(settled, 1), settledDf.schema)
    graft.sources.LocalFs.deleteRecursively(work)
    out
  }

  /** Count-Min Sketch frequency estimates for the top-10 corpus tokens
    * next to their exact counts and the realized overcount — the
    * heavy-hitter screen a 100 TB token stream runs when a
    * full-vocabulary aggregation is too expensive (d·w = 2048 integer
    * cells of state, vs O(vocab)). CMS never undercounts; the
    * overcount column puts the collision error ON RECORD. The oracle
    * replays the hash family, every counter cell, and the min-probe
    * estimates integer-exactly. */
  def cmsTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
    val truth = tok.groupBy(col("token")).agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("token").asc).limit(10)
    val counters = Sketches.cmsCounters(tok, col("token"), d = 4, w = 512)
    Sketches.cmsEstimate(counters, truth, col("token"), d = 4, w = 512)
      .withColumnRenamed("q", "token")
      .join(truth, "token")
      .select(col("token"), col("n_true"), col("n_est"),
        (col("n_est") - col("n_true")).as("overcount"))
      .orderBy(col("n_true").desc, col("token").asc)
  }

  /** Certified corpus heavy hitters through the Misra–Gries summary
    * ([[graft.operators.HeavyHitters]]): tokens strictly above
    * 1/(k+1) of the corpus, found with an O(k)-state aggregate plus a
    * broadcast-candidate exact recount — the full-vocabulary shuffle
    * never happens, yet the output equals the plain
    * GROUP BY … HAVING answer, which is literally what the oracle
    * runs (determinism comes from the recount, not the summary). */
  def heavyHitterTokens(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("token"))
    graft.operators.HeavyHitters.certified(tok, col("token"), k = 64)
      .withColumnRenamed("item", "token")
      .orderBy(col("n_exact").desc, col("token").asc)
  }

  /** Join-size estimation from CMS sketches ([[Sketches.cmsJoinSize]]
    * — the Cormode–Muthukrishnan inner-product estimator): predict
    * |orders ⋈ events| on the user key from two d×w counter tables,
    * next to the exact answer and the realized over-ratio. The
    * planner's broadcast-vs-shuffle-vs-salt decision at 100 TB runs
    * on exactly this estimate; the gate proves estimator and exact
    * side agree with the oracle's integer replay of both. */
  def cmsJoinSizeOrdersEvents(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_custkey").isNotNull)
      .select(col("o_custkey").cast("string").as("k"))
    val e = Tables.events(spark, dir).filter(col("user_id").isNotNull)
      .select(col("user_id").cast("string").as("k"))
    val est = Sketches.cmsJoinSize(o, col("k"), e, col("k"), d = 4, w = 8192)
    val actual = o.groupBy(col("k")).agg(count(lit(1)).as("n_o"))
      .join(e.groupBy(col("k")).agg(count(lit(1)).as("n_e")), Seq("k"))
      .agg(sum(col("n_o") * col("n_e")).as("join_size_actual"))
    est.crossJoin(broadcast(actual))
      .select(col("join_size_est"), col("join_size_actual"),
        (floor(col("join_size_est").cast("double")
          / col("join_size_actual").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
          .as("over_ratio"))
  }

  /** SECOND STREAMING GATE — the dedup path: documents stream through
    * [[graft.streaming.Streams.dedupedByContent]] (watermark +
    * `dropDuplicatesWithinWatermark` on the normalized-text sha256)
    * from a 5-chunk file source (one chunk replayed) into an
    * append-mode parquet sink, and the settled table must contain
    * EXACTLY one row per distinct content fingerprint — the oracle
    * states that invariant as count(DISTINCT fp) twice (rows written
    * == distinct fingerprints). Cross-batch dedup state, the replay
    * collapse, and the sink path are all load-bearing: an emitted
    * duplicate or a dropped first-arrival flips the hash. */
  def streamDedupDocs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val work = graft.sources.LocalFs.scratchDir("graft_stream_dedup")
    val inDir = s"$work/in"; val target = s"$work/target"; val ckpt = s"$work/ckpt"
    // 2 chunks + a replay of chunk 1 — three micro-batches prove the
    // cross-batch dedup state and the replay collapse; more batches
    // only multiply fixed per-batch state-store/sink overhead
    writeStreamChunks(inDir, Seq(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)))
    // same state-width scoping as streamMergeEvents: 2 state-store
    // partitions for the gate instead of the session's 32
    graft.streaming.Streams.withGateSession(spark) { _ =>
      val q = graft.streaming.Streams.dedupedByContent(
          spark.readStream.schema(chunkSchema(docs)).option("maxFilesPerTrigger", 1)
            .parquet(inDir).drop("_b"),
          delay = "1 hour")
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", target)
        .start()
      q.awaitTermination()
    }
    val rollup = spark.read.parquet(target)
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("fp")).as("n_distinct_fp"))
    val settled = rollup.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(settled, 1), rollup.schema)
    graft.sources.LocalFs.deleteRecursively(work)
    out
  }

  /** SEVENTH STREAMING GATE — ANN-index ingest, the streaming form of
    * the IVF build: the trained centroids are FROZEN before the
    * stream starts (production shape: train offline, assign online),
    * then embeddings arrive in micro-batches, cross-batch-deduped on
    * vec_id (watermark-bounded state; one chunk is replayed to prove
    * the collapse), and a foreachBatch sink assigns each vector
    * MAP-SIDE to its max-cosine cell (`graft_top_cells`' literal
    * centroid matrix via [[KMeans.assignCells]] — no join, no
    * shuffle, no per-vector state) and APPENDS it to a
    * CELL-PARTITIONED parquet index, where partition pruning on
    * `cell` IS the IVF probe. The settled per-cell rollup
    * (n_vectors + exact Σ vec_id + quantized mean cosine) pins the
    * ASSIGNMENT itself: one misrouted vector flips sum_vec_id, so
    * the oracle — the batch replay of the same 2-iteration training
    * and argmax over the full corpus — certifies that streaming
    * ingest and batch rebuild produce the identical index.
    *
    * 100 TB posture: per batch the work is one map-side projection
    * over the batch's rows plus a partitioned append; dedup state is
    * watermark-bounded; nothing scales with the INDEX size — the
    * properties a continuously-ingesting vector store needs. */
  def streamAnnIngest(spark: SparkSession, dir: String): DataFrame = {
    val (out, work) = streamAnnIngestKeep(spark, dir)
    graft.sources.LocalFs.deleteRecursively(work)
    out
  }

  /** [[streamAnnIngest]] with the scratch dir returned instead of
    * deleted, so StreamAnnIngestSpec can assert the settled index's
    * cell-partitioned LAYOUT (the IVF-probe pruning surface), not
    * just its rollup values. */
  private[analytics] def streamAnnIngestKeep(
      spark: SparkSession, dir: String): (DataFrame, java.nio.file.Path) = {
    import org.apache.spark.sql.streaming.Trigger
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = trainedCentroids(emb, dir, k = 8, nIter = 2)
    val docs = emb.withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val work = graft.sources.LocalFs.scratchDir("graft_stream_ann")
    try {
      streamAnnIngestBody(spark, docs, cents, work)
    } catch {
      // Keep variant: the scratch dir is the RETURN VALUE on success
      // (the spec asserts its layout), so clean up on failure only
      case scala.util.control.NonFatal(e) =>
        graft.sources.LocalFs.deleteRecursively(work); throw e
    }
  }

  private def streamAnnIngestBody(spark: SparkSession, docs: DataFrame,
      cents: Seq[(Int, Array[Double])],
      work: java.nio.file.Path): (DataFrame, java.nio.file.Path) = {
    import org.apache.spark.sql.streaming.Trigger
    val inDir = s"$work/in"; val target = s"$work/target"; val ckpt = s"$work/ckpt"
    // even ids, odd ids, odd ids replayed — three micro-batches prove
    // cross-batch dedup state + the replay collapse (the
    // streamDedupDocs convention)
    writeStreamChunks(inDir, Seq(
      docs.filter(pmod(col("vec_id"), lit(2)) === 0),
      docs.filter(pmod(col("vec_id"), lit(2)) === 1),
      docs.filter(pmod(col("vec_id"), lit(2)) === 1)))
    graft.streaming.Streams.withGateSession(spark) { _ =>
      val q = spark.readStream.schema(chunkSchema(docs)).option("maxFilesPerTrigger", 1)
        .parquet(inDir).drop("_b")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("vec_id")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          KMeans.assignCells(batch, cents)
            .select(col("vec_id"), col("cell_cos"), col("cell"))
            .write.mode("append").partitionBy("cell").parquet(target)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val rollup = spark.read.parquet(target)
      .select(col("cell").cast("long").as("cell"), col("vec_id"),
        Cols.r(col("cell_cos"), 6).as("rcos"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("vec_id")).cast("long").as("sum_vec_id"),
        Cols.r(Cols.avgExact(col("rcos"), 6), 6).as("avg_cos"))
      .orderBy(col("cell").asc)
    val settled = rollup.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(settled, 1), rollup.schema)
    (out, work)
  }

  /** COMPACTION GATE — the small-files maintenance job every
    * incremental/streaming partitioned fact needs at 100 TB: three
    * append batches land O(batches × writer-tasks) small files per
    * date partition (the accumulation pattern of
    * [[streamAnnIngest]]'s per-batch appends and every incr load);
    * [[graft.sources.LayerWriter.compactFact]] rewrites the layout to
    * O(dates) right-sized files through a temp-sibling swap (never
    * reading the directory it overwrites). The entry rolls the
    * COMPACTED layout up per (date, type) and the oracle computes the
    * same rollup straight from the source table — compaction must be
    * result-invisible or the hash flips. The physical half (file
    * count collapses to one per date, PartitionFilters still prune
    * after the rewrite) is pinned in LayerWriterSpec. */
  def factCompactRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.LayerWriter
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("d"))
      // the three append batches below each slice this same frame:
      // persist it once inside the timed entry so the scan+filter+
      // format work runs once per gate, not once per batch (guide
      // §1.2 step 1 — same move as the merge gates)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val work = graft.sources.LocalFs.scratchDir("graft_fact_compact")
    try {
      val path = s"$work/fact"
      (0 to 2).foreach { b =>
        ev.filter(pmod(col("event_id"), lit(3)) === b)
          .write.mode("append").partitionBy("d").parquet(path)
      }
      LayerWriter.compactFact(spark, path, "d")
      // partition-value inference types d as DATE on read; the rollup
      // keys on the canonical string form the oracle computes
      val rollup = spark.read.parquet(path)
        .groupBy(col("d").cast("string").as("d"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Cols.r(Cols.sumExact(col("value")), 2).as("total_value"))
        .orderBy(col("d").asc, col("event_type").asc)
      val settled = rollup.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(settled, 1), rollup.schema)
    } finally {
      ev.unpersist(blocking = false)
      graft.sources.LocalFs.deleteRecursively(work)
    }
  }

  /** BUCKETED-LAYOUT GATE: orders and customer are written as tables
    * bucketed 8 ways on the join key ([[graft.sources.LayerWriter
    * .writeBucketed]] — the pay-the-shuffle-once layout), then joined
    * from the CATALOG TABLES and rolled up per market segment. The
    * oracle runs the plain join over the source parquet — the bucketed
    * round-trip (bucket hash assignment, per-bucket files, catalog
    * metadata, bucket-aware join) must be result-invisible, or the
    * hash flips. The shuffle-FREE property of same-bucketing joins is
    * asserted separately in LayerWriterSpec; this entry pins the
    * correctness half on harness data. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.LayerWriter
    LayerWriter.writeBucketed(
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "graft_bj_orders", "o_custkey", buckets = 8, sortCols = Seq("o_custkey"))
    LayerWriter.writeBucketed(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
      "graft_bj_customer", "c_custkey", buckets = 8, sortCols = Seq("c_custkey"))
    spark.table("graft_bj_orders")
      .join(spark.table("graft_bj_customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Cols.r(Cols.sumExact(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("c_mktsegment").asc)
  }

  // ---- multimodal plumbing ---------------------------------------------

  def mmPayloadStats(spark: SparkSession, dir: String): DataFrame =
    Multimodal.payloadStats(Tables.documents(spark, dir))

  /** Audio frame signatures through the REAL demux path — see
    * [[Multimodal.embeddingAudioSignature]]: vector → 16-bit PCM WAV
    * bytes → RIFF parse + frame slicing → integer-exact energy and
    * zero-crossing counts, replayed by the oracle from the floats.
    * Zero FP tolerance: both features are Long arithmetic. */
  def mmAudioSignature(spark: SparkSession, dir: String): DataFrame =
    Multimodal.embeddingAudioSignature(Tables.embeddings(spark, dir))
      .orderBy(col("vec_id").asc, col("frame_idx").asc)

  /** Image perceptual hashes through the REAL binary path — see
    * [[Multimodal.embeddingDHash]]: vector → PNG bytes → ImageIO
    * decode → raster dHash, while the oracle computes the identical
    * 56 bits straight from the floats. A hash gate over every vector
    * certifies the encoder/decoder round trip sample-exactly. */
  def mmImageDhash(spark: SparkSession, dir: String): DataFrame =
    Multimodal.embeddingDHash(Tables.embeddings(spark, dir))
      .orderBy(col("vec_id").asc)

  /** Per-frame hashes through the REAL video demux chain — see
    * [[Multimodal.embeddingVideoFrameHash]]: vector → mono Y4M bytes
    * → header parse + FRAME-marker walk ([[Multimodal.y4mFrames]]) →
    * per-frame PNG re-encode → ImageIO decode → raster dHash, while
    * the oracle computes the identical bits and container timestamps
    * straight from the floats. A hash gate over every (vector, frame)
    * certifies frame boundaries, timestamps, and per-frame decode. */
  def mmVideoFramehash(spark: SparkSession, dir: String): DataFrame =
    Multimodal.embeddingVideoFrameHash(Tables.embeddings(spark, dir))
      .orderBy(col("vec_id").asc, col("frame_idx").asc)

  // ---- oracles ---------------------------------------------------------

  /** Winnowing fingerprint CTEs (n = 3, w = 4) — mirrors
    * TextDedup.withWinnowFingerprints exactly; shared by the
    * fingerprint dump and the overlap-pair oracles. */
  private lazy val dkWinnowCtes =
    s"""tok AS (SELECT doc_id, $dkTokenHashes AS th FROM documents),
       |winnow AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(th) < 3 THEN list_slice(th, 1, 0)
       |    ELSE list_transform(generate_series(1, greatest(len(th) - 5, 1)),
       |      i -> list_min(list_transform(generate_series(i, least(i + 3, len(th) - 2)),
       |             j -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, j, j + 2)), (acc, h) -> (acc * 131 + h) % 1000000007))))
       |    END) AS fps
       |  FROM tok
       |)""".stripMargin

  /** Verified trained-IVF near-dup pair CTEs — the self-scaled
    * k-means training (first-seed centroids, 2 unrolled Lloyd
    * iterations), top-2 cell probe, in-cell pair join, and exact
    * cosine verify that `dedup_embedding_ivf` and `semdedup_prune`
    * both replay. Emits `ipairs` (vec_a < vec_b, cos >= 0.4). */
  private lazy val dkIvfPairCtes =
    s"""c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, embedding AS c
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC
       |        LIMIT (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings))
       |), ${dkKmeansIter(1)}, ${dkKmeansIter(2)},
       |iprobe AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
       |    FROM embeddings e CROSS JOIN c2 c) WHERE rn <= 2
       |), icands AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM iprobe x JOIN iprobe y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |), ipairs AS (
       |  SELECT c.vec_a, c.vec_b, ${dkCos("a.embedding", "b.embedding")} AS cos
       |  FROM icands c
       |  JOIN embeddings a ON a.vec_id = c.vec_a
       |  JOIN embeddings b ON b.vec_id = c.vec_b
       |  WHERE ${dkCos("a.embedding", "b.embedding")} >= 0.4
       |)""".stripMargin

  /** Verified embedding near-dup pair CTEs — the seeded hyperplane
    * LSH banding + exact cosine verify the `dedup_embedding` family
    * replays (32 bands × 4 planes, cos ≥ 0.4). Emits `epairs`
    * (vec_a < vec_b, cos). */
  private lazy val dkEmbPairCtes =
    s"""anchors AS (
       |  -- fixed-seed Gaussian plane matrix (32 bands x 4 planes),
       |  -- integer grid / 1024: bit-identical to the engine literals
       |  ${dkSeededAnchors(128)}
       |), sig AS (
       |  SELECT e.vec_id, CAST(floor(a.rank / 4) AS BIGINT) AS band,
       |         sum(CASE WHEN ${dkDot("e.embedding", "a.plane_vec")} > 0
       |             THEN CAST(pow(2, a.rank % 4) AS BIGINT) ELSE 0 END) AS key
       |  FROM embeddings e CROSS JOIN anchors a
       |  GROUP BY 1, 2
       |), cands AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM sig x JOIN sig y
       |    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
       |), epairs AS (
       |  SELECT c.vec_a, c.vec_b, ${dkCos("a.embedding", "b.embedding")} AS cos
       |  FROM cands c
       |  JOIN embeddings a ON a.vec_id = c.vec_a
       |  JOIN embeddings b ON b.vec_id = c.vec_b
       |  WHERE ${dkCos("a.embedding", "b.embedding")} >= 0.4
       |)""".stripMargin

  private def dkSizesFrom(src: String) =
    s"""tok AS (SELECT doc_id, $dkTokenHashes AS th FROM $src),
       |sh AS (SELECT doc_id, unnest($dkShingles) AS sh FROM tok),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)""".stripMargin
  private val dkSizes = dkSizesFrom("documents")

  /** Softsign-GD training replay (the kmeans_cells whole-loop
    * pattern), shared by the classifier oracles: every double
    * expression in the SAME association order as the Spark plan,
    * gradient sums on the 1e-6 integer grid, weight updates as
    * lr*((s/1e6)/n) double arithmetic. All features are exact
    * multiples of 0.5, so every product is IEEE-exact on both
    * engines. `dkClfCtes` ends at the trained `wt8`. */
  private def dkClfSig(z: String) = s"(0.5e0 + 0.5e0 * $z / (1e0 + abs($z)))"
  private def dkClfMrg(w: String) =
    s"(((($w.b + $w.w1 * x1) + $w.w2 * x2) + $w.w3 * x3) + $w.w4 * x4)"
  private def dkClfIter(i: Int): String = {
    val p = dkClfSig("z")
    s"""m$i AS (
       |  SELECT y, x1, x2, x3, x4, ${dkClfMrg(s"wt${i - 1}")} AS z
       |  FROM feats CROSS JOIN wt${i - 1}
       |), g$i AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(CAST(floor(($p - y) * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS s0,
       |         CAST(sum(CAST(floor(($p - y) * x1 * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS s1,
       |         CAST(sum(CAST(floor(($p - y) * x2 * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS s2,
       |         CAST(sum(CAST(floor(($p - y) * x3 * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS s3,
       |         CAST(sum(CAST(floor(($p - y) * x4 * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS s4
       |  FROM m$i
       |), wt$i AS (
       |  SELECT b - 2e0 * (CAST(s0 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)) AS b,
       |         w1 - 2e0 * (CAST(s1 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)) AS w1,
       |         w2 - 2e0 * (CAST(s2 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)) AS w2,
       |         w3 - 2e0 * (CAST(s3 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)) AS w3,
       |         w4 - 2e0 * (CAST(s4 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)) AS w4
       |  FROM wt${i - 1} CROSS JOIN g$i
       |)"""
  }
  private lazy val dkClfCtes: String =
    s"""craw AS (
       |  SELECT lang,
       |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
       |         CAST(len(list_filter(string_split(text, ' '),
       |              w -> list_contains(string_split('the a an and or of to in is it', ' '), w))) AS DOUBLE)
       |           / len(string_split(text, ' ')) AS swr,
       |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |           / len(string_split(text, ' ')) AS ttr,
       |         (length(text) - len(string_split(text, ' ')) + 1.0) / len(string_split(text, ' ')) AS awl
       |  FROM documents
       |), cscored AS (
       |  SELECT lang,
       |         CASE WHEN nt >= 20 AND nt <= 80 THEN 1e0 WHEN nt >= 10 THEN 0.5e0 ELSE 0e0 END AS x1,
       |         CASE WHEN swr >= 0.05e0 THEN 1e0 ELSE 0e0 END AS x2,
       |         CASE WHEN ttr >= 0.3e0 THEN 1e0 WHEN ttr >= 0.15e0 THEN 0.5e0 ELSE 0e0 END AS x3,
       |         CASE WHEN awl >= 3e0 AND awl <= 10e0 THEN 1e0 ELSE 0e0 END AS x4
       |  FROM craw
       |), feats AS (
       |  SELECT lang,
       |         CASE WHEN (((x1 + x2) + x3) + x4) / 4e0 >= 0.875e0 THEN 1e0 ELSE 0e0 END AS y,
       |         x1, x2, x3, x4
       |  FROM cscored
       |), wt0 AS (
       |  SELECT 0e0 AS b, 0e0 AS w1, 0e0 AS w2, 0e0 AS w3, 0e0 AS w4
       |), ${(1 to 8).map(dkClfIter).mkString(",\n")}""".stripMargin

  /** MinHash-LSH pair graph as a reusable CTE chain: `pairs`
    * (doc_a < doc_b) and symmetric `edges` (a, b) — identical to the
    * pair set Components/PageRank consume in the engine. The `src`
    * variant lets lsh_pair_recall replay the SAME chain over its
    * dispatch-sampled doc slice. */
  private[analytics] def dkPairGraphCtesFrom(src: String) =
    s"""${dkSizesFrom(src)},
       |sigs AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, 15),
       |           i -> list_min(list_transform($dkShingles,
       |                  h -> (CAST(2*i+1 AS BIGINT) * h + 999983 * CAST(i AS BIGINT)) % $P))) AS minhash
       |  FROM tok
       |), bandsx AS (
       |  SELECT doc_id, b.b AS band, list_slice(minhash, b.b * 2 + 1, b.b * 2 + 2) AS key
       |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b
       |), cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandsx a JOIN bandsx b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), $dkJaccardPairs,
       |pairs AS (
       |  SELECT j.doc_a, j.doc_b
       |  FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
       |  WHERE j.jraw >= 0.5
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |)""".stripMargin
  private[analytics] lazy val dkPairGraphCtes = dkPairGraphCtesFrom("documents")

  /** One unrolled sync-LPA round over `edgesm(a, b)`: neighbor-label
    * counts, then the per-node argmax by (count DESC, label ASC) —
    * mirrors [[graft.operators.Components.labelPropagation]] round
    * for round. */
  private def dkLpaRound(i: Int): String =
    s"""lc$i AS (
       |  SELECT e.a AS id, l.lbl, count(*) AS cnt
       |  FROM edgesm e JOIN lp${i - 1} l ON l.id = e.b
       |  GROUP BY 1, 2
       |), lp$i AS MATERIALIZED (
       |  SELECT id, lbl FROM (
       |    SELECT id, lbl,
       |           row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS rn
       |    FROM lc$i)
       |  WHERE rn = 1
       |)""".stripMargin

  /** Pair graph → connected components via recursive CTE (callers
    * prepend WITH RECURSIVE). `comps` is (id, comp) with comp = min
    * reachable id — the same labeling Components produces. */
  private lazy val dkComponentCtes =
    s"""$dkPairGraphCtes,
       |reach(id, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
       |), comps AS (
       |  SELECT id, min(r) AS comp FROM reach GROUP BY id
       |)""".stripMargin

  private val dkJaccardPairs =
    s"""inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_ab
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), jac AS (
       |  SELECT doc_a, doc_b,
       |         CAST(n_ab AS DOUBLE) / (sa.n_sh + sb.n_sh - n_ab) AS jraw,
       |         floor(CAST(n_ab AS DOUBLE) / (sa.n_sh + sb.n_sh - n_ab) * 1e4 + 0.5) / 1e4 AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |)""".stripMargin

  /** Shared minhash→band→candidate block (16 hashes, 8 bands × 2
    * rows) over an upstream `tok(doc_id, th)` CTE — used verbatim by
    * dedup_minhash_lsh, dedup_minhash_fast, and cosine_verify_lsh. */
  private lazy val dkMinhashCandCtes: String =
    s"""sigs AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, 15),
       |           i -> list_min(list_transform($dkShingles,
       |                  h -> (CAST(2*i+1 AS BIGINT) * h + 999983 * CAST(i AS BIGINT)) % $P))) AS minhash
       |  FROM tok
       |), bandsx AS (
       |  SELECT doc_id, b.b AS band, list_slice(minhash, b.b * 2 + 1, b.b * 2 + 2) AS key
       |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b
       |), cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandsx a JOIN bandsx b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** Candidate block + exact-Jaccard verify + final projection — the
    * ENTIRE post-tokenization pipeline of the minhash-LSH dedup
    * oracles, shared by reference (per the r6 advice) between the
    * portable-family entry (dedup_minhash_lsh) and the
    * production-hash entry (dedup_minhash_fast) so the two cannot
    * silently drift apart: they differ ONLY in how `tok` is built. */
  private lazy val dkMinhashLshTail: String =
    s"""$dkMinhashCandCtes, $dkJaccardPairs
       |SELECT j.doc_a, j.doc_b, j.jaccard
       |FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
       |WHERE j.jraw >= 0.5
       |ORDER BY j.doc_a ASC, j.doc_b ASC""".stripMargin

  /** DuckDB mirror of the PRODUCTION token-hash family
    * ([[graft.functions.TokenHashesFast]]): full xxHash64 (seed 42,
    * little-endian byte reads, the < 32-byte input path) over each
    * token's UTF-8 bytes, then Java's `((h % P) + P) % P` applied to
    * the SIGNED 64-bit view of the digest — bit-for-bit the engine
    * expression. 64-bit wraparound lives in HUGEINT arithmetic:
    * every multiply splits its left operand into 32-bit halves so no
    * intermediate exceeds 2^96 (< 2^127), rotations are
    * shift-mod-2^64 plus logical right shift (`//` on non-negative
    * values), and the avalanche xors run on HUGEINTs. Byte access
    * parses hex(encode(w)) pairwise — strpos over '123456789ABCDEF'
    * maps '0' to 0 via not-found, 'F' to 15. Inputs >= 32 bytes
    * would need xxHash64's four-accumulator stripe phase, which this
    * mirror deliberately omits: the `n` CTE fails LOUDLY (string →
    * HUGEINT cast) on such a token instead of hashing it wrong (the
    * catalog's `minhash_fast_precheck` entry gives a driver hitting
    * that error the oversized-token count as a one-query diagnosis).
    * Chain ends in `tok` (doc_id, th) — the same SHAPE dkSizes' `tok`
    * has for the portable family (every downstream shingle/minhash/
    * band/Jaccard CTE is shared by reference via dkMinhashLshTail),
    * with one intermediate divergence that cannot reach the output: a
    * NULL-text document is DROPPED here (unnest over a NULL
    * string_split yields no rows) where dkSizes' tok keeps it with
    * th = NULL. Such a doc has no shingles on either path, so it can
    * never appear in a pair; only the intermediate row sets differ. */
  private lazy val dkFastTokCtes: String = {
    val M64 = "18446744073709551616" // 2^64
    val p1 = "11400714785074694791"  // xxHash64 PRIME64_1
    val p2 = "14029467366897019727"  // PRIME64_2
    val p3 = "1609587929392839161"   // PRIME64_3
    val p4 = "9650029242287828579"   // PRIME64_4
    val p5 = "2870177450012600261"   // PRIME64_5
    def mul64(a: String, b: String) = // (a*b) mod 2^64, a,b in [0, 2^64)
      s"((($a) % 4294967296) * ($b) + (((($a) // 4294967296) * (($b) % 4294967296)) % 4294967296) * 4294967296) % $M64"
    def rotl(x: String, r: Int) =
      s"((($x) * ${1L << r}) % $M64 + ($x) // ${java.math.BigInteger.ONE.shiftLeft(64 - r)})"
    def xxor(a: String, b: String) = s"xor(CAST($a AS HUGEINT), CAST($b AS HUGEINT))"
    def le(p: String, nb: Int) = // little-endian read of nb bytes at 1-indexed pos p
      (0 until nb).map(j => s"b[CAST(($p)+$j AS BIGINT)] * ${1L << (8 * j)}").mkString("(", " + ", ")")
    val byts = "list_transform(generate_series(1, CAST(octet_length(encode(w)) AS BIGINT)), " +
      "i -> CAST(strpos('123456789ABCDEF', substr(hex(encode(w)), 2*i-1, 1)) AS HUGEINT) * 16 " +
      "+ strpos('123456789ABCDEF', substr(hex(encode(w)), 2*i, 1)))"
    val h0 = s"CAST((42 + $p5 + n) AS HUGEINT)" // seed + PRIME64_5, then + len
    val kr = mul64(s"(${rotl(s"(${mul64(le("s", 8), p2)})", 31)})", p1)
    val h8 = s"(${mul64(rotl(s"(${xxor("acc", kr)})", 27), p1)} + $p4) % $M64"
    val fold8 = s"list_reduce(list_prepend($h0, list_transform(generate_series(1, CAST(n // 8 AS BIGINT)), " +
      s"c -> CAST(8*(c-1)+1 AS HUGEINT))), (acc, s) -> $h8)"
    val h4x = xxor("h1", mul64(le("(8*(n//8))+1", 4), p1))
    val h4 = s"(${mul64(rotl(s"($h4x)", 23), p2)} + $p3) % $M64"
    val hb = mul64(rotl(s"(${xxor("acc", mul64("b[CAST(p AS BIGINT)]", p5))})", 11), p1)
    val foldb = s"list_reduce(list_prepend(CAST(h2 AS HUGEINT), " +
      s"list_transform(generate_series(CAST(8*(n//8) + CASE WHEN n % 8 >= 4 THEN 4 ELSE 0 END + 1 AS BIGINT), CAST(n AS BIGINT)), " +
      s"p -> CAST(p AS HUGEINT))), (acc, p) -> $hb)"
    val av1 = mul64(xxor("h3", "h3 // 8589934592"), p2)   // h ^= h >> 33; h *= P2
    val av2 = mul64(xxor("a1", "a1 // 536870912"), p3)    // h ^= h >> 29; h *= P3
    val av3 = xxor("a2", "a2 // 4294967296")              // h ^= h >> 32
    val jl = s"CASE WHEN u < 9223372036854775808 THEN u ELSE u - $M64 END"
    val fin = s"CAST(((($jl) % $P + $P) % $P) AS BIGINT)"
    s"""xw AS (
       |  SELECT doc_id, unnest(generate_series(1, len(ws))) AS ord, ws
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |), xtok AS (SELECT doc_id, ord, ws[ord] AS w FROM xw),
       |xb AS (
       |  SELECT doc_id, ord, $byts AS b,
       |         CASE WHEN octet_length(encode(w)) >= 32
       |              THEN CAST('xxh64 mirror requires tokens < 32 bytes' AS HUGEINT)
       |              ELSE CAST(octet_length(encode(w)) AS HUGEINT) END AS n
       |  FROM xtok
       |), xh1 AS (SELECT doc_id, ord, b, n, $fold8 AS h1 FROM xb),
       |xh2 AS (SELECT doc_id, ord, b, n, CASE WHEN n % 8 >= 4 THEN $h4 ELSE h1 END AS h2 FROM xh1),
       |xh3 AS (SELECT doc_id, ord, n, $foldb AS h3 FROM xh2),
       |xa1 AS (SELECT doc_id, ord, $av1 AS a1 FROM xh3),
       |xa2 AS (SELECT doc_id, ord, $av2 AS a2 FROM xa1),
       |xu AS (SELECT doc_id, ord, $av3 AS u FROM xa2),
       |xf AS (SELECT doc_id, ord, $fin AS hv FROM xu),
       |tok AS (SELECT doc_id, list(hv ORDER BY ord ASC) AS th FROM xf GROUP BY doc_id)""".stripMargin
  }

  /** Shared passage CTEs (w = 4, non-overlapping windows, trailing
    * partial dropped) — mirrors Passages.withPassages exactly.
    * DuckDB's generate_series(1, 0) is empty (no descending surprise),
    * but the CASE keeps the short-doc guard explicit and identical to
    * the engine's. */
  private val dkPassages =
    s"""ptoks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |pinst AS (
       |  SELECT doc_id, lang, unnest(
       |    CASE WHEN len(t) >= 4 THEN list_transform(
       |      generate_series(1, CAST(floor(len(t) / 4.0) AS BIGINT)),
       |      i -> array_to_string(list_slice(t, (i - 1) * 4 + 1, (i - 1) * 4 + 4), ' '))
       |    ELSE list_slice(t, 1, 0) END) AS passage
       |  FROM ptoks
       |), pcnt AS (SELECT passage, count(*) AS cnt FROM pinst GROUP BY 1)""".stripMargin

  /** SpanDedup replay (n = 8, minDocs = 2), ending in CTE
    * `spans(doc_id, span_start, span_end)`. Mirrors
    * [[graft.operators.SpanDedup.duplicatedSpans]] step for step:
    * positional gram hashes (two same-length unnests zip in DuckDB),
    * distinct-doc gram filter, running-max interval merge. */
  private val dkSpanCtes =
    s"""stok AS (SELECT doc_id, $dkTokenHashes AS th FROM documents),
       |sgram AS (
       |  SELECT doc_id, pos,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, pos, pos + 7)),
       |              (acc, h) -> (acc * 131 + h) % $P) AS g
       |  FROM (SELECT doc_id, th, unnest(generate_series(1, len(th) - 7)) AS pos
       |        FROM stok WHERE len(th) >= 8)
       |),
       |sdup AS (SELECT g FROM sgram GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
       |sduppos AS (SELECT doc_id, pos FROM sgram WHERE g IN (SELECT g FROM sdup)),
       |smarked AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN max(pos + 8) OVER w IS NULL OR pos > max(pos + 8) OVER w
       |              THEN 1 ELSE 0 END AS is_new
       |  FROM sduppos
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos ASC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |),
       |snum AS (
       |  SELECT doc_id, pos, sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM smarked
       |),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
       |  FROM snum GROUP BY doc_id, span_id
       |)""".stripMargin

  /** KMV sketch + estimator as a CTE chain over CTE `src` exposing a
    * string column `s` — mirrors Sketches.kmvSketch/estimate exactly
    * (distinct portable hashes → min-k → (k−1)·P / h_k, exact below
    * k). The (k−1)·P scale is computed driver-side and interpolated
    * as one double literal so both engines divide identical values. */
  private def dkKmvEst(src: String, k: Int, px: String): String = {
    val scale = ((k - 1).toDouble * P).toString
    s"""${px}h AS (SELECT DISTINCT (${dkWordHash("s")} * 2654435761) % $P AS h FROM $src),
       |${px}m AS (SELECT h FROM ${px}h ORDER BY h ASC LIMIT $k),
       |${px}e AS (
       |  SELECT count(*) AS m, max(h) AS kth_hash,
       |         CASE WHEN count(*) < $k THEN count(*)
       |              ELSE CAST(floor(CAST('$scale' AS DOUBLE) / CAST(max(h) AS DOUBLE)) AS BIGINT) END AS n_est
       |  FROM ${px}m)""".stripMargin
  }

  /** HLL sketch as a CTE chain over CTE `src` exposing a string column
    * `s` (plus the group columns in `gCols`) — mirrors
    * Sketches.hllBucket/hllRho/hllZSum/hllEstimate step for step:
    * scattered portable hash → bucket/rho split → max-register GROUP
    * BY → exact power-of-two harmonic sum → estimator with the SAME
    * literal alpha·m² (string-cast to DOUBLE, like dkKmvEst's scale)
    * and the SAME precomputed linear-counting table. Emits
    * `${px}x` (gCols…, n_present, n_est). */
  private[graft] def dkHll(src: String, gCols: Seq[String], m: Int, px: String): String = {
    val w = Sketches.hllW(m)
    val alphaM2 = Sketches.hllAlphaM2(m).toString
    val table = Sketches.hllLinearTable(m).mkString(", ")
    val gSel = if (gCols.isEmpty) "" else gCols.mkString("", ", ", ", ")
    val regBy = (gCols :+ "bucket").mkString(", ")
    val estBy = if (gCols.isEmpty) "" else "GROUP BY " + gCols.mkString(", ")
    val eRaw = s"CAST('$alphaM2' AS DOUBLE) / (CAST($m - n_present AS DOUBLE) + zsum)"
    s"""${px}h AS (
       |  SELECT $gSel h % $m AS bucket,
       |         CAST(floor(CAST(h AS DOUBLE) / $m) AS BIGINT) % ${1L << w} AS v
       |  FROM (SELECT $gSel (${dkWordHash("s")} * 2654435761) % $P AS h FROM $src)
       |), ${px}r AS (
       |  SELECT $gSel bucket,
       |         max(CASE WHEN v = 0 THEN ${w + 1} ELSE ${w + 1} - length(bin(v)) END) AS reg
       |  FROM ${px}h GROUP BY $regBy
       |), ${px}e AS (
       |  SELECT $gSel count(*) AS n_present,
       |         coalesce(sum(CAST(1 AS DOUBLE) / CAST((CAST(1 AS BIGINT) << reg) AS DOUBLE)),
       |                  CAST(0 AS DOUBLE)) AS zsum
       |  FROM ${px}r $estBy
       |), ${px}x AS (
       |  SELECT $gSel n_present,
       |         CASE WHEN $eRaw <= ${2.5 * m} AND $m - n_present > 0
       |              THEN list_extract(list_value($table), CAST($m - n_present AS INT))
       |              ELSE CAST(floor($eRaw) AS BIGINT) END AS n_est
       |  FROM ${px}e)""".stripMargin
  }

  /** One unrolled Lloyd iteration as CTEs: assign against c<i-1>,
    * quantized per-dim sums, means → c<i>. Mirrors KMeans.assignCells
    * (tie-break: lowest cell) + meanUpdate (1e-9 grid, exact int64). */
  private def dkKmeansIter(i: Int): String = dkKmeansIterFrom(i, "embeddings", "")

  /** One unrolled coarse-k-means Lloyd iteration over `src(vec_id,
    * embedding)` with CTE names prefixed `px` — the generalization
    * that lets the d256 gates replay KMeans.fit over the WIDENED
    * corpus CTE (px = "", src = "embeddings" reproduces the original
    * text the 64-dim entries share). */
  private def dkKmeansIterFrom(i: Int, src: String, px: String): String = {
    val prev = s"${px}c${i - 1}"
    s"""${px}a$i AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
       |    FROM $src e CROSS JOIN $prev c) WHERE rn = 1
       |), ${px}m$i AS (
       |  SELECT cell, u.pos AS pos, sum(u.q) AS sq, count(*) AS n FROM (
       |    SELECT cell, unnest(list_transform(generate_series(1, len(embedding)),
       |      j -> struct_pack(pos := j,
       |             q := CAST(floor(CAST(embedding[j] AS DOUBLE) * 1e9 + 0.5) AS BIGINT)))) AS u
       |    FROM ${px}a$i)
       |  GROUP BY 1, 2
       |), ${px}c$i AS (
       |  SELECT cell, list((CAST(sq AS DOUBLE) / n) / 1e9 ORDER BY pos ASC) AS c
       |  FROM ${px}m$i GROUP BY cell
       |)""".stripMargin
  }

  /** The double-cast subspace slice of a float embedding: subspace
    * `sub` (0-based, from the joined codebook row) of width `subDim` —
    * mirrors Pq's slice(v, sub·subDim+1, subDim) + per-element double
    * cast. */
  private def dkPqSlice(v: String, sub: String, subDim: Int): String =
    s"list_transform(list_slice($v, $sub * $subDim + 1, $sub * $subDim + $subDim), x -> CAST(x AS DOUBLE))"

  /** One unrolled per-subspace Lloyd iteration for the PQ codebooks
    * (CTE names prefixed `$px`): L2 assignment via dot(c,c) −
    * 2·dot(v,c) (ties to the lowest cell — mirrors Pq.fitCodebooks'
    * ascending-cell strict-< scan), then 1e-9-grid quantized per-dim
    * means (exact int64 sums). Empty cells drop out of the GROUP BY
    * exactly as the engine's groupBy forgets them. */
  private def dkPqIter(i: Int, px: String = "pq"): String =
    s"""${px}a$i AS (
       |  SELECT sub, cell, v FROM (
       |    SELECT sv.sub, sv.rn, sv.v, c.cell,
       |           row_number() OVER (PARTITION BY sv.sub, sv.rn
       |             ORDER BY (${dkDot("c.c", "c.c")} - 2 * ${dkDot("sv.v", "c.c")}) ASC,
       |                      c.cell ASC) AS rk
       |    FROM ${px}_sv sv JOIN ${px}c${i - 1} c ON sv.sub = c.sub) WHERE rk = 1
       |), ${px}m$i AS (
       |  SELECT sub, cell, u.pos AS pos, sum(u.q) AS sq, count(*) AS n FROM (
       |    SELECT sub, cell, unnest(list_transform(generate_series(1, len(v)),
       |      j -> struct_pack(pos := j, q := CAST(floor(v[j] * 1e9 + 0.5) AS BIGINT)))) AS u
       |    FROM ${px}a$i)
       |  GROUP BY 1, 2, 3
       |), ${px}c$i AS (
       |  SELECT sub, cell, list((CAST(sq AS DOUBLE) / n) / 1e9 ORDER BY pos ASC) AS c
       |  FROM ${px}m$i GROUP BY sub, cell
       |)""".stripMargin

  /** Full-replay PQ pipeline as shared CTEs for an (m, k, sampleN)
    * geometry over 64-dim embeddings (mirrors Pq.fitCodebooks +
    * Pq.reconstruct, 2 Lloyd rounds): ${px}_s = the deterministic
    * sample in vec_id order, ${px}c0 = first-k init, ${px}c2 =
    * trained codebooks, ${px}_enc = per-(vector, subspace) argmin
    * code assignment over the whole corpus, ${px}_rec = (vec_id,
    * recon) with recon the concatenated assigned sub-centroids in
    * subspace order. */
  private def dkPqCtesFor(px: String, m: Int, k: Int, sampleN: Int,
      src: String = "embeddings", dim: Int = 64): String = {
    val subDim = dim / m
    val subs = (0 until m).mkString(", ")
    s"""${px}_s AS (
       |  SELECT row_number() OVER (ORDER BY vec_id ASC) AS rn, embedding
       |  FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id ASC LIMIT $sampleN)
       |), ${px}_sv AS (
       |  SELECT rn, sub, ${dkPqSlice("embedding", "sub", subDim)} AS v
       |  FROM ${px}_s CROSS JOIN (SELECT unnest([$subs]) AS sub) subs
       |), ${px}c0 AS (
       |  SELECT sub, rn - 1 AS cell, v AS c FROM ${px}_sv WHERE rn <= $k
       |), ${dkPqIter(1, px)}, ${dkPqIter(2, px)},
       |${px}_enc AS (
       |  SELECT vec_id, sub, cell, c FROM (
       |    SELECT e.vec_id, c.sub, c.cell, c.c,
       |           row_number() OVER (PARTITION BY e.vec_id, c.sub
       |             ORDER BY (${dkDot("c.c", "c.c")} - 2 * ${dkDot(dkPqSlice("e.embedding", "c.sub", subDim), "c.c")}) ASC,
       |                      c.cell ASC) AS rk
       |    FROM $src e CROSS JOIN ${px}c2 c) WHERE rk = 1
       |), ${px}_rec AS (
       |  SELECT vec_id, flatten(list(c ORDER BY sub ASC)) AS recon
       |  FROM ${px}_enc GROUP BY vec_id
       |)""".stripMargin
  }

  /** The catalog geometry instance: m=4, k=16, 256-vector sample —
    * CTE names pq_s/pq_sv/pqc0..pqc2/pq_enc/pq_rec as before. */
  private val dkPqCtes: String = dkPqCtesFor("pq", m = 4, k = 16, sampleN = 256)

  /** The PRODUCTION geometry instance (FAISS's standard PQ8x256:
    * m=8 subspaces × k=256 codewords ⇒ 1-byte codes, 8 B/vector),
    * trained on a 512-vector sample: CTE prefix `pz`. */
  private val dkPq256Ctes: String = dkPqCtesFor("pz", m = 8, k = 256, sampleN = 512)

  /** DuckDB replay of [[graft.ScaleUp.widenEmbedding]](4, ·): output
    * position p (0-based) reads block j = p/64's source element
    * (i + 17j mod 64) with i = p mod 64, negates when popcount(i & j)
    * is odd, scales by the EXACT 0.5 (a power of two — float·0.5 is
    * exact, so the double list here equals Spark's float array
    * element-for-element). CTE `wide(vec_id, embedding)`. */
  private val dkWideCte: String =
    """wide AS (
      |  SELECT vec_id,
      |         list_transform(generate_series(0, 255),
      |           p -> CAST(embedding[((p % 64) + (17 * (p // 64)) % 64) % 64 + 1] AS DOUBLE) * 0.5
      |                * CASE WHEN bit_count(CAST((p % 64) AS BIGINT) & CAST((p // 64) AS BIGINT)) % 2 = 1
      |                       THEN -1 ELSE 1 END) AS embedding
      |  FROM embeddings
      |)""".stripMargin

  /** The PRODUCTION-DIMENSION instance: PQ32x256 over the 256-dim
    * widened corpus (m from the mForDim law), prefix `pw`. */
  private val dkPqD256Ctes: String =
    dkPqCtesFor("pw", m = 32, k = 256, sampleN = 512, src = "wide", dim = 256)

  /** One unrolled PageRank power iteration (mirrors PageRank.ranks:
    * 1e-12-grid quantized contributions, teleport/n + d·sum). The
    * scalar constants are interpolated as full-precision double
    * STRINGS and cast, so DuckDB cannot silently route them through
    * decimal arithmetic (1 - 0.85 in decimal is exactly 0.15, which
    * is NOT the double `1.0 - 0.85`). */
  private def dkPrIter(i: Int): String = {
    val teleport = (1.0 - 0.85).toString
    s"""pr$i AS (
       |  SELECT e.b AS id,
       |         CAST('$teleport' AS DOUBLE) / (SELECT n FROM prn)
       |         + CAST('0.85' AS DOUBLE) *
       |           (CAST(sum(CAST(floor(r.rank / d.deg * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12) AS rank
       |  FROM edges e
       |  JOIN prdeg d ON d.id = e.a
       |  JOIN pr${i - 1} r ON r.id = e.a
       |  GROUP BY e.b
       |)""".stripMargin
  }

  /** Shared by `sim_topk_ivfadc` and `ann_persist_serve`: the
    * persistence gate's contract is bit-identity with the single-run
    * serve, so both entries replay the SAME training + ADC ranking
    * in DuckDB. */
  private lazy val ivfadcServeOracle: String =
    s"""WITH c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, embedding AS c
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 8)
       |), ${dkKmeansIter(1)}, ${dkKmeansIter(2)},
       |$dkPqCtes,
       |vc_assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
       |    FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1
       |), vq_assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
       |    FROM embeddings e CROSS JOIN c2 c
       |    WHERE e.vec_id < 10) WHERE rn <= 2
       |), vscored AS (
       |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
       |         ${dkCos("q.embedding", "r.recon")} AS cos
       |  FROM vq_assign q
       |  JOIN vc_assign a ON q.cell = a.cell AND a.vec_id <> q.vec_id
       |  JOIN pq_rec r ON r.vec_id = a.vec_id
       |), vranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM vscored
       |)
       |SELECT query_id, rank, neighbor_id, cos FROM vranked
       |WHERE rank <= 5
       |ORDER BY query_id ASC, rank ASC""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_persist_serve" -> ivfadcServeOracle,
    "kcore_docs" -> {
      // unrolled peel: each round keeps edges whose BOTH endpoints
      // have degree >= 2; once the core is stable further rounds are
      // identities, so 12 rounds == the fixpoint for peel depth <= 12
      // MATERIALIZED: each round references the previous THREE times;
      // DuckDB's default CTE inlining would expand the base scan 3^12
      // times (observed as an fd explosion on the parquet view)
      val rounds = (1 to 12).map { i =>
        s"""kd$i AS MATERIALIZED (SELECT a, count(*) AS d FROM k${i - 1} GROUP BY a),
           |kk$i AS MATERIALIZED (SELECT a FROM kd$i WHERE d >= 2),
           |k$i AS MATERIALIZED (SELECT k${i - 1}.a, k${i - 1}.b FROM k${i - 1}
           |        JOIN kk$i x ON k${i - 1}.a = x.a
           |        JOIN kk$i y ON k${i - 1}.b = y.a)""".stripMargin
      }.mkString(",\n")
      s"""WITH $dkPairGraphCtes,
         |k0 AS MATERIALIZED (SELECT a, b FROM edges),
         |$rounds
         |SELECT a AS doc_id, count(*) AS core_deg
         |FROM k12 GROUP BY a
         |ORDER BY doc_id ASC""".stripMargin
    },
    "pagerank_hubs" ->
      s"""WITH $dkPairGraphCtes,
         |prdeg AS (SELECT a AS id, count(*) AS deg FROM edges GROUP BY 1),
         |prn AS (SELECT count(*) AS n FROM prdeg),
         |pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM prn) AS rank FROM prdeg),
         |${dkPrIter(1)}, ${dkPrIter(2)}, ${dkPrIter(3)}
         |SELECT id AS doc_id, floor(rank * 1e9 + 0.5) / 1e9 AS rank
         |FROM pr3
         |ORDER BY rank DESC, doc_id ASC
         |LIMIT 20""".stripMargin,
    "kmeans_cells" ->
      s"""WITH c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, embedding AS c
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 8)
         |), ${dkKmeansIter(1)}, ${dkKmeansIter(2)},
         |final_assign AS (
         |  SELECT cell, cos FROM (
         |    SELECT e.vec_id, c.cell, ${dkCosRaw("e.embedding", "c.c")} AS cos,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1
         |)
         |SELECT cell, count(*) AS n_vectors,
         |       floor(CAST(sum(CAST(floor(cos * 1e6 + 0.5) / 1e6 AS DECIMAL(30,6))) AS DOUBLE)
         |             / count(*) * 1e6 + 0.5) / 1e6 AS avg_cos
         |FROM final_assign GROUP BY cell
         |ORDER BY cell ASC""".stripMargin,
    "stream_ann_ingest" ->
      // batch replay of the streaming IVF ingest: same 2-iteration
      // training, same argmax assignment (ties to lowest cell), per-
      // cell counts + EXACT Σ vec_id (one misrouted vector flips it)
      // + the kmeans_cells avg-cos decimal form. The stream's replayed
      // chunk collapses under the watermarked dedup, so the settled
      // index equals this full-corpus batch rebuild.
      s"""WITH c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, embedding AS c
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 8)
         |), ${dkKmeansIter(1)}, ${dkKmeansIter(2)},
         |fa AS (
         |  SELECT vec_id, cell, cos FROM (
         |    SELECT e.vec_id, c.cell, ${dkCosRaw("e.embedding", "c.c")} AS cos,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1
         |)
         |SELECT cell, count(*) AS n_vectors,
         |       CAST(sum(vec_id) AS BIGINT) AS sum_vec_id,
         |       floor(CAST(sum(CAST(floor(cos * 1e6 + 0.5) / 1e6 AS DECIMAL(30,6))) AS DOUBLE)
         |             / count(*) * 1e6 + 0.5) / 1e6 AS avg_cos
         |FROM fa GROUP BY cell
         |ORDER BY cell ASC""".stripMargin,
    "sim_topk_ivf_kmeans" ->
      s"""WITH c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, embedding AS c
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 8)
         |), ${dkKmeansIter(1)}, ${dkKmeansIter(2)},
         |kc_assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1
         |), kq_assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c
         |    WHERE e.vec_id < 10) WHERE rn <= 2
         |), kscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dkCos("q.embedding", "c.embedding")} AS cos
         |  FROM kq_assign q JOIN kc_assign c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         |), kranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM kscored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM kranked
         |WHERE rank <= 3
         |ORDER BY query_id ASC, rank ASC""".stripMargin,
    "sim_topk_pq" ->
      s"""WITH $dkPqCtes,
         |pscored AS (
         |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |         ${dkCos("q.embedding", "r.recon")} AS cos
         |  FROM pq_rec r JOIN embeddings q ON r.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10
         |), pranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM pscored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM pranked
         |WHERE rank <= 5
         |ORDER BY query_id ASC, rank ASC""".stripMargin,
    "pq_distortion" ->
      s"""WITH $dkPqCtes,
         |pd AS (
         |  SELECT CAST(floor((${dkDot("e.embedding", "e.embedding")}
         |                     - 2 * ${dkDot("e.embedding", "r.recon")}
         |                     + ${dkDot("r.recon", "r.recon")}) * 1e6 + 0.5) AS BIGINT) AS e,
         |         CAST(floor(${dkCosRaw("e.embedding", "r.recon")} * 1e6 + 0.5) AS BIGINT) AS c
         |  FROM embeddings e JOIN pq_rec r ON e.vec_id = r.vec_id
         |)
         |SELECT 4 AS m, 16 AS k, count(*) AS n_vectors,
         |       floor(CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) / 1e6 AS mean_sq_err,
         |       CAST(max(e) AS DOUBLE) / 1e6 AS max_sq_err,
         |       floor(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) / 1e6 AS mean_cos
         |FROM pd""".stripMargin,
    "pq_recall" ->
      s"""WITH $dkPqCtes,
         |pexact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), papprox AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "r.recon")} DESC, r.vec_id ASC) AS rank
         |    FROM pq_rec r JOIN embeddings q ON r.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), pnex AS (SELECT count(*) AS n_exact FROM pexact),
         |phits AS (
         |  SELECT count(*) AS n_hits FROM papprox JOIN pexact USING (query_id, neighbor_id)
         |)
         |SELECT 'pq_adc' AS method, n_exact, n_hits,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall
         |FROM phits CROSS JOIN pnex""".stripMargin,
    "sim_topk_ivfadc" -> ivfadcServeOracle,
    "pq256_recall" ->
      s"""WITH $dkPq256Ctes,
         |zexact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), zapprox AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "r.recon")} DESC, r.vec_id ASC) AS rank
         |    FROM pz_rec r JOIN embeddings q ON r.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), znex AS (SELECT count(*) AS n_exact FROM zexact),
         |zhits AS (
         |  SELECT count(*) AS n_hits FROM zapprox JOIN zexact USING (query_id, neighbor_id)
         |)
         |SELECT 'pq256_adc' AS method, n_exact, n_hits,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall
         |FROM zhits CROSS JOIN znex""".stripMargin,
    "sim_topk_pq256" ->
      s"""WITH $dkPq256Ctes,
         |zscored AS (
         |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |         ${dkCos("q.embedding", "r.recon")} AS cos
         |  FROM pz_rec r JOIN embeddings q ON r.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10
         |), zranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM zscored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM zranked
         |WHERE rank <= 5
         |ORDER BY query_id ASC, rank ASC""".stripMargin,
    "ivfadc256_recall" ->
      s"""WITH c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, embedding AS c
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 8)
         |), ${dkKmeansIter(1)}, ${dkKmeansIter(2)},
         |$dkPq256Ctes,
         |yc_assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1
         |), yq_assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c
         |    WHERE e.vec_id < 10) WHERE rn <= 3
         |), yscored AS (
         |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |         ${dkCos("q.embedding", "r.recon")} AS cos
         |  FROM yq_assign q
         |  JOIN yc_assign a ON q.cell = a.cell AND a.vec_id <> q.vec_id
         |  JOIN pz_rec r ON r.vec_id = a.vec_id
         |), yapprox AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |    FROM yscored)
         |  WHERE rank <= 5
         |), yexact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), ynex AS (SELECT count(*) AS n_exact FROM yexact),
         |yhits AS (
         |  SELECT count(*) AS n_hits FROM yapprox JOIN yexact USING (query_id, neighbor_id)
         |)
         |SELECT 'ivfadc256' AS method, n_exact, n_hits,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall
         |FROM yhits CROSS JOIN ynex""".stripMargin,
    "ivfadc_recall" ->
      s"""WITH c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, embedding AS c
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 8)
         |), ${dkKmeansIter(1)}, ${dkKmeansIter(2)},
         |$dkPqCtes,
         |vc_assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1
         |), vq_assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c
         |    WHERE e.vec_id < 10) WHERE rn <= 2
         |), vscored AS (
         |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |         ${dkCos("q.embedding", "r.recon")} AS cos
         |  FROM vq_assign q
         |  JOIN vc_assign a ON q.cell = a.cell AND a.vec_id <> q.vec_id
         |  JOIN pq_rec r ON r.vec_id = a.vec_id
         |), vapprox AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |    FROM vscored)
         |  WHERE rank <= 5
         |), vexact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), vnex AS (SELECT count(*) AS n_exact FROM vexact),
         |vhits AS (
         |  SELECT count(*) AS n_hits FROM vapprox JOIN vexact USING (query_id, neighbor_id)
         |)
         |SELECT 'ivfadc' AS method, n_exact, n_hits,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall
         |FROM vhits CROSS JOIN vnex""".stripMargin,
    "pq_recall_d256" ->
      // full replay at PRODUCTION DIMENSIONALITY: widen (dkWideCte) →
      // PQ32x256 train/encode/reconstruct (dkPqD256Ctes) → ADC vs
      // exact ranking over the SAME widened corpus → recall + the
      // measured floor test (computed in both engines)
      s"""WITH $dkWideCte,
         |$dkPqD256Ctes,
         |wexact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM wide q JOIN wide c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), wapprox AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "r.recon")} DESC, r.vec_id ASC) AS rank
         |    FROM pw_rec r JOIN wide q ON r.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), wnex AS (SELECT count(*) AS n_exact FROM wexact),
         |whits AS (
         |  SELECT count(*) AS n_hits FROM wapprox JOIN wexact USING (query_id, neighbor_id)
         |)
         |SELECT 'pq_d256' AS method, n_exact, n_hits,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 >= $PqD256RecallFloor AS meets_floor
         |FROM whits CROSS JOIN wnex""".stripMargin,
    "ivfadc_recall_d256" ->
      // the composed deployment shape at 256 dims: coarse k-means
      // retrained over the widened corpus (dkKmeansIterFrom px = "k"),
      // nProbe = 3 probe, PQ32x256 ADC scoring, exact compare + floor
      s"""WITH $dkWideCte,
         |kc0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, embedding AS c
         |  FROM (SELECT vec_id, embedding FROM wide ORDER BY vec_id ASC LIMIT 8)
         |), ${dkKmeansIterFrom(1, "wide", "k")}, ${dkKmeansIterFrom(2, "wide", "k")},
         |$dkPqD256Ctes,
         |yc_assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM wide e CROSS JOIN kc2 c) WHERE rn = 1
         |), yq_assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM wide e CROSS JOIN kc2 c
         |    WHERE e.vec_id < 10) WHERE rn <= 3
         |), yscored AS (
         |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |         ${dkCos("q.embedding", "r.recon")} AS cos
         |  FROM yq_assign q
         |  JOIN yc_assign a ON q.cell = a.cell AND a.vec_id <> q.vec_id
         |  JOIN pw_rec r ON r.vec_id = a.vec_id
         |), yapprox AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |    FROM yscored)
         |  WHERE rank <= 5
         |), yexact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM wide q JOIN wide c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), ynex AS (SELECT count(*) AS n_exact FROM yexact),
         |yhits AS (
         |  SELECT count(*) AS n_hits FROM yapprox JOIN yexact USING (query_id, neighbor_id)
         |)
         |SELECT 'ivfadc_d256' AS method, n_exact, n_hits,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 >= $IvfadcD256RecallFloor AS meets_floor
         |FROM yhits CROSS JOIN ynex""".stripMargin,
    "fact_compact_read" ->
      // result-invisibility: the rollup AFTER three append batches +
      // compactFact's temp-sibling rewrite must equal the plain batch
      // rollup over the source table
      """SELECT substr(CAST(ts AS VARCHAR(30)), 1, 10) AS d, event_type,
        |       count(*) AS n_events,
        |       floor(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_value
        |FROM events
        |WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY d ASC, event_type ASC""".stripMargin,
    "incr_load_events" ->
      """SELECT substr(CAST(ts AS VARCHAR(30)), 1, 10) AS event_date,
        |       count(*) AS n_events,
        |       count(DISTINCT event_id) AS n_distinct_ids,
        |       CAST(0 AS BIGINT) AS replay_appended
        |FROM events
        |WHERE ts IS NOT NULL
        |GROUP BY 1
        |ORDER BY event_date ASC""".stripMargin,
    "sessionize_daily" ->
      """WITH sess_ev AS (
        |  SELECT user_id, ts, event_id FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |              THEN 1 ELSE 0 END AS boundary
        |  FROM sess_ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), seqs AS (
        |  SELECT user_id, ts,
        |         sum(boundary) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |), sess AS (
        |  SELECT user_id, session_seq,
        |         min(ts) AS session_start,
        |         count(*) AS n_events,
        |         epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |  FROM seqs GROUP BY 1, 2
        |)
        |SELECT substr(CAST(session_start AS VARCHAR(30)), 1, 10) AS session_date,
        |       count(*) AS n_sessions,
        |       CAST(sum(n_events) AS BIGINT) AS total_events,
        |       floor(CAST(sum(n_events) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS avg_session_events,
        |       floor(CAST(sum(duration_us) AS DOUBLE) / count(*) / 1e6 * 1e6 + 0.5) / 1e6 AS avg_duration_sec
        |FROM sess GROUP BY 1
        |ORDER BY session_date ASC""".stripMargin,
    "gapfill_daily" ->
      """WITH daily AS (
        |  SELECT event_type, user_id % 25 AS bucket, CAST(ts AS DATE) AS d,
        |         floor((CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS v
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2, 3
        |), bounds AS (
        |  SELECT event_type, bucket, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1, 2
        |), spine AS (
        |  SELECT event_type, bucket, CAST(dd AS DATE) AS d FROM (
        |    SELECT event_type, bucket,
        |           unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS dd
        |    FROM bounds)
        |), j AS (
        |  SELECT s.event_type, s.bucket, s.d, daily.v,
        |         daily.v IS NOT NULL AS obs
        |  FROM spine s LEFT JOIN daily USING (event_type, bucket, d)
        |), g AS (
        |  SELECT event_type, bucket, d, obs, v,
        |         count(v) OVER (PARTITION BY event_type, bucket ORDER BY d ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM j
        |), f AS (
        |  SELECT event_type, bucket, d, obs,
        |         max(v) OVER (PARTITION BY event_type, bucket, grp) AS v
        |  FROM g
        |)
        |SELECT event_type, bucket, substr(CAST(d AS VARCHAR(30)), 1, 10) AS day, v AS v_carried
        |FROM f WHERE NOT obs
        |ORDER BY event_type ASC, bucket ASC, day ASC""".stripMargin,
    "fuzzy_pairs_customers" ->
      """WITH c AS (SELECT c_custkey, c_nationkey, c_name FROM customer)
        |SELECT a.c_nationkey AS nation, a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY nation ASC, id_a ASC, id_b ASC""".stripMargin,
    // shared dialect (SqlFrontEndSpec): floor-division spells as
    // floor(x / 10.0) (DuckDB's // is not Spark-parseable), and the
    // %f timestamp rendering builds from the fixed-width first-19
    // chars of the canonical CAST plus the zero-padded epoch_us
    // microsecond remainder — strftime is DuckDB-only. `||` not
    // concat: DuckDB's concat SKIPS NULLs, || propagates on both.
    "scd2_user_versions" ->
      """WITH chg AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10.0) AS BIGINT) AS tier
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND user_id < 10
        |), flagged AS (
        |  SELECT user_id, ts, event_id, tier,
        |         row_number() OVER w AS rn,
        |         lag(tier) OVER w AS prev_tier
        |  FROM chg
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), collapsed AS (
        |  SELECT user_id, ts, event_id, tier FROM flagged
        |  WHERE rn = 1 OR tier IS DISTINCT FROM prev_tier
        |), versions AS (
        |  SELECT user_id, ts AS vf, event_id, tier,
        |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS vt
        |  FROM collapsed
        |)
        |SELECT user_id, event_id AS version_event, tier,
        |       substr(CAST(vf AS VARCHAR(30)), 1, 19) || '.' ||
        |         lpad(CAST(epoch_us(vf) % 1000000 AS VARCHAR(10)), 6, '0') AS valid_from,
        |       substr(CAST(vt AS VARCHAR(30)), 1, 19) || '.' ||
        |         lpad(CAST(epoch_us(vt) % 1000000 AS VARCHAR(10)), 6, '0') AS valid_to,
        |       vt IS NULL AS is_current
        |FROM versions
        |ORDER BY user_id ASC, valid_from ASC, version_event ASC""".stripMargin,
    "funnel_stages" ->
      """WITH base AS (
        |  SELECT user_id, ts, event_type FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')
        |), s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |              OVER (PARTITION BY user_id) AS fv FROM base
        |), s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= fv THEN ts END)
        |              OVER (PARTITION BY user_id) AS fc FROM s1
        |), s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= fc THEN ts END)
        |              OVER (PARTITION BY user_id) AS fp FROM s2
        |), per_user AS (
        |  SELECT user_id, max(fv) AS fv, max(fc) AS fc, max(fp) AS fp
        |  FROM s3 GROUP BY 1
        |)
        |SELECT count(*) AS n_users,
        |       count(fv) AS n_viewed,
        |       count(fc) AS n_clicked_after_view,
        |       count(fp) AS n_purchased_after_click,
        |       floor(CAST(count(fc) AS DOUBLE) / nullif(count(fv), 0) * 1e6 + 0.5) / 1e6 AS click_through_rate,
        |       floor(CAST(count(fp) AS DOUBLE) / nullif(count(fc), 0) * 1e6 + 0.5) / 1e6 AS purchase_rate
        |FROM per_user""".stripMargin,
    "text_repetition" ->
      """WITH rtoks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |rg AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t) - 1),
        |      i -> array_to_string(list_slice(t, i, i + 1), ' '))
        |    ELSE list_slice(t, 1, 0) END) AS gram
        |  FROM rtoks
        |), rc AS (SELECT doc_id, gram, count(*) AS cnt FROM rg GROUP BY 1, 2),
        |rpd AS (
        |  SELECT doc_id, sum(cnt) AS n, max(cnt) AS top,
        |         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup
        |  FROM rc GROUP BY 1
        |), rf AS (
        |  SELECT d.lang,
        |         floor(CAST(p.top AS DOUBLE) / p.n * 1e6 + 0.5) / 1e6 AS tf,
        |         floor(CAST(p.dup AS DOUBLE) / p.n * 1e6 + 0.5) / 1e6 AS df
        |  -- LEFT join: docs shorter than n tokens still count in n_docs
        |  -- (their fracs are NULL and drop out of the averages), exactly
        |  -- like the engine's left join against ngramRepetition
        |  FROM documents d LEFT JOIN rpd p ON d.doc_id = p.doc_id
        |)
        |SELECT lang, count(*) AS n_docs,
        |       floor(CAST(sum(CAST(tf AS DECIMAL(30,6))) AS DOUBLE) / count(tf) * 1e6 + 0.5) / 1e6 AS avg_top_frac,
        |       floor(CAST(sum(CAST(df AS DECIMAL(30,6))) AS DOUBLE) / count(df) * 1e6 + 0.5) / 1e6 AS avg_dup_frac
        |FROM rf GROUP BY lang
        |ORDER BY lang ASC""".stripMargin,
    // shared dialect: explicit group 0 on regexp_extract_all (Spark
    // defaults to group 1 and errors on group-less patterns; DuckDB
    // defaults to 0), and split+join for the GLOBAL replace (DuckDB's
    // 'g' flag parses as a position argument in Spark). The patterns
    // themselves are parser-safe by construction (Redaction's [.]/[+]
    // bracket classes).
    "text_redact" ->
      s"""SELECT lang, count(*) AS n_docs,
         |       CAST(sum(len(regexp_extract_all(text, '${Redaction.emailPattern}', 0))) AS BIGINT) AS total_emails,
         |       CAST(sum(len(regexp_extract_all(text, '${Redaction.phonePattern}', 0))) AS BIGINT) AS total_phones,
         |       CAST(sum(CASE WHEN len(regexp_extract_all(text, '${Redaction.emailPattern}', 0)) = 0
         |                      AND len(regexp_extract_all(text, '${Redaction.phonePattern}', 0)) = 0
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |       count(DISTINCT md5(array_to_string(regexp_split_to_array(
         |         array_to_string(regexp_split_to_array(text,
         |           '${Redaction.emailPattern}'), '<EMAIL>'),
         |         '${Redaction.phonePattern}'), '<PHONE>'))) AS n_distinct_redacted
         |FROM documents
         |GROUP BY lang
         |ORDER BY lang ASC""".stripMargin,
    "passage_dup" ->
      s"""WITH $dkPassages
         |SELECT lang, count(*) AS total_passages,
         |       CAST(sum(CASE WHEN pcnt.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_passages,
         |       floor(CAST(sum(CASE WHEN pcnt.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*) * 1e6 + 0.5) / 1e6 AS dup_frac
         |FROM pinst JOIN pcnt USING (passage)
         |GROUP BY lang
         |ORDER BY lang ASC""".stripMargin,
    "boilerplate_topk" ->
      s"""WITH $dkPassages
         |SELECT passage, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
         |FROM pinst
         |GROUP BY passage
         |HAVING count(*) >= 2
         |ORDER BY n_occurrences DESC, passage ASC
         |LIMIT 10""".stripMargin,
    "dedup_exact" ->
      s"""SELECT count(*) AS n_docs,
         |       count(DISTINCT fp) AS n_unique,
         |       count(*) - count(DISTINCT fp) AS n_dup_rows
         |FROM (SELECT sha256($dkNormText) AS fp
         |      FROM documents)""".stripMargin,
    "dedup_jaccard" ->
      // replays the engine's FULL three-tier dispatch (ADVICE r11: the
      // oracle used to stay exact unconditionally, so the gate would
      // mismatch by construction past the prefix budget): exact_tier
      // mirrors jaccardPairsAdaptive's measured statistics — exact
      // whenever Σ df² fits the fanout budget OR Σ n_sh fits the
      // prefix budget (tiers 1 and 2 are value-identical), else the
      // banded-LSH prescreen + exact verify (jac restricted to cands —
      // the dedup_minhash_lsh tail). Scalar-subquery gate, the
      // lsh_pair_recall / stream_join_views cohort pattern.
      s"""WITH $dkSizes, $dkJaccardPairs, $dkMinhashCandCtes,
         |dspx AS (
         |  SELECT CASE WHEN coalesce((SELECT sum(df * df) FROM (
         |                SELECT count(*) AS df FROM sh GROUP BY sh)), 0)
         |                <= ${graft.operators.TextDedup.IndexFanoutBudget}
         |           OR coalesce((SELECT sum(n_sh) FROM sizes), 0)
         |                <= ${graft.operators.TextDedup.PrefixIndexRowsBudget}
         |         THEN 1 ELSE 0 END AS exact_tier
         |)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT j.doc_a, j.doc_b, j.jaccard FROM jac j
         |  WHERE j.jraw >= 0.5 AND (SELECT exact_tier FROM dspx) = 1
         |  UNION ALL
         |  SELECT j.doc_a, j.doc_b, j.jaccard
         |  FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
         |  WHERE j.jraw >= 0.5 AND (SELECT exact_tier FROM dspx) = 0
         |)
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    // the prefix-filtered strategy must produce the IDENTICAL pair
    // set — same oracle text, so the filter's loss-lessness is
    // hash-gated, not just property-tested
    "dedup_jaccard_prefix" ->
      // replays the certification's sample dispatch (the
      // lsh_pair_recall scalar-subquery-gate pattern): full corpus at
      // or below the doc budget, the deterministic 1-in-mod slice
      // above it (doc_id is non-negative, so % = pmod on both engines)
      s"""WITH srcp AS (
         |  SELECT * FROM documents
         |  WHERE (SELECT count(*) FROM documents) <= $RecallSampleThreshold
         |     OR doc_id % $RecallSampleMod = 1
         |), ${dkSizesFrom("srcp")}, $dkJaccardPairs
         |SELECT doc_a, doc_b, jaccard FROM jac
         |WHERE jraw >= 0.5
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    "dedup_containment" ->
      // same three-tier dispatch replay as dedup_jaccard (shared
      // measured statistics — containmentPairsAdaptive dispatches on
      // the identical budgets): exact cpair below budget, cpair
      // restricted to the banded-LSH candidates above it.
      s"""WITH $dkSizes, $dkMinhashCandCtes,
         |cinter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_ab
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), cpair AS (
         |  SELECT doc_a, doc_b, n_ab, sa.n_sh AS n_a, sb.n_sh AS n_b,
         |         CAST(n_ab AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS craw,
         |         CAST(n_ab AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_ab AS DOUBLE) AS jraw
         |  FROM cinter
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |), dspx AS (
         |  SELECT CASE WHEN coalesce((SELECT sum(df * df) FROM (
         |                SELECT count(*) AS df FROM sh GROUP BY sh)), 0)
         |                <= ${graft.operators.TextDedup.IndexFanoutBudget}
         |           OR coalesce((SELECT sum(n_sh) FROM sizes), 0)
         |                <= ${graft.operators.TextDedup.PrefixIndexRowsBudget}
         |         THEN 1 ELSE 0 END AS exact_tier
         |), cgated AS (
         |  SELECT * FROM cpair WHERE (SELECT exact_tier FROM dspx) = 1
         |  UNION ALL
         |  SELECT p.* FROM cpair p JOIN cands c
         |    ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
         |  WHERE (SELECT exact_tier FROM dspx) = 0
         |)
         |SELECT CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS doc_sub,
         |       CASE WHEN n_a <= n_b THEN doc_b ELSE doc_a END AS doc_sup,
         |       CAST(least(n_a, n_b) AS BIGINT) AS n_sub,
         |       floor(craw * 1e4 + 0.5) / 1e4 AS containment,
         |       floor(jraw * 1e4 + 0.5) / 1e4 AS jaccard
         |FROM cgated WHERE craw >= 0.8
         |ORDER BY doc_sub ASC, doc_sup ASC""".stripMargin,
    "topk_value_by_type" ->
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id ASC) AS rank
        |  FROM events
        |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL
        |)
        |SELECT event_type, rank, event_id, value FROM r WHERE rank <= 3
        |ORDER BY event_type ASC, rank ASC""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $dkSizes,
         |$dkMinhashLshTail""".stripMargin,
    // The PRODUCTION-hash entry: identical pipeline to dedup_minhash_lsh
    // with `tok` swapped for the full xxHash64 replay (dkFastTokCtes) —
    // everything below the token hashes IS the same string
    // (dkMinhashLshTail), shared by reference, not by copy.
    "dedup_minhash_fast" ->
      s"""WITH $dkFastTokCtes,
         |sh AS (SELECT doc_id, unnest($dkShingles) AS sh FROM tok),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |$dkMinhashLshTail""".stripMargin,
    // Companion diagnostic for dedup_minhash_fast's documented oracle
    // bound (the xxHash64 SQL mirror fails LOUD on ≥32-byte tokens):
    // counts oversized tokens per corpus so a driver hitting that
    // HUGEINT conversion error can report "oracle inapplicable: N
    // oversized tokens" instead of a raw cast failure. One row always.
    "minhash_fast_precheck" ->
      """WITH tokx AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |)
        |SELECT count(*) AS n_tokens,
        |       CAST(coalesce(sum(CASE WHEN octet_length(encode(tok)) >= 32 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_oversized,
        |       CAST(coalesce(max(octet_length(encode(tok))), 0) AS BIGINT) AS max_token_bytes
        |FROM tokx""".stripMargin,
    "cosine_verify_lsh" ->
      s"""WITH $dkSizes,
         |$dkMinhashCandCtes, tfx AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
         |), tfc AS (
         |  SELECT doc_id, t, count(*) AS tf FROM tfx GROUP BY 1, 2
         |), cnorms AS (
         |  SELECT doc_id, sum(tf * tf) AS ssq FROM tfc GROUP BY 1
         |), dotc AS (
         |  SELECT c.doc_a, c.doc_b, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         |  FROM cands c
         |  JOIN tfc a ON a.doc_id = c.doc_a
         |  JOIN tfc b ON b.doc_id = c.doc_b AND b.t = a.t
         |  GROUP BY 1, 2
         |)
         |SELECT d.doc_a, d.doc_b,
         |       floor(CAST(d.dot AS DOUBLE)
         |         / (sqrt(CAST(na.ssq AS DOUBLE)) * sqrt(CAST(nb.ssq AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS cosine
         |FROM dotc d
         |JOIN cnorms na ON d.doc_a = na.doc_id
         |JOIN cnorms nb ON d.doc_b = nb.doc_id
         |ORDER BY d.doc_a ASC, d.doc_b ASC""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, $dkTokenHashes AS th FROM documents),
         |sim AS (
         |  SELECT doc_id,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(generate_series(0, 31),
         |             j -> CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
         |                    list_transform(th, h -> CAST(floor(h / CAST(pow(2, j) AS BIGINT)) AS BIGINT) % 2 * 2 - 1)),
         |                    (s, x) -> s + x) > 0
         |                  THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)),
         |           (a, x) -> a + x) AS simhash
         |  FROM tok
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 0
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    "span_dup_spans" ->
      s"""WITH $dkSpanCtes
         |SELECT doc_id, span_start, span_end, span_end - span_start AS span_len
         |FROM spans
         |ORDER BY span_len DESC, doc_id ASC, span_start ASC
         |LIMIT 40""".stripMargin,
    "span_dup_profile" ->
      s"""WITH $dkSpanCtes,
         |sprof AS (
         |  SELECT doc_id, count(*) AS n_spans,
         |         CAST(sum(span_end - span_start) AS BIGINT) AS dup_tokens
         |  FROM spans GROUP BY doc_id
         |)
         |SELECT p.doc_id, p.n_spans, p.dup_tokens,
         |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |       CAST(len(string_split(d.text, ' ')) AS BIGINT) - p.dup_tokens AS kept_tokens
         |FROM sprof p JOIN documents d ON p.doc_id = d.doc_id
         |ORDER BY dup_tokens DESC, p.doc_id ASC
         |LIMIT 20""".stripMargin,
    "span_dup_excise" ->
      s"""WITH $dkSpanCtes,
         |scov AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS pos FROM sduppos)
         |),
         |stoksx AS (
         |  SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, unnest(t) AS tok
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |),
         |skept AS (
         |  SELECT k.doc_id, k.pos, k.tok
         |  FROM stoksx k LEFT JOIN scov c ON k.doc_id = c.doc_id AND k.pos = c.pos
         |  WHERE c.pos IS NULL
         |),
         |sclean AS (
         |  SELECT doc_id, count(*) AS kept_tokens,
         |         array_to_string(list(tok ORDER BY pos ASC), ' ') AS clean_text
         |  FROM skept GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(s.clean_text, '') AS clean_text,
         |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(s.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         |       CAST(len(string_split(d.text, ' ')) AS BIGINT)
         |         - CAST(coalesce(s.kept_tokens, 0) AS BIGINT) AS removed_tokens
         |FROM documents d LEFT JOIN sclean s ON d.doc_id = s.doc_id
         |ORDER BY removed_tokens DESC, d.doc_id ASC
         |LIMIT 15""".stripMargin,
    // shared dialect: ASOF LEFT JOIN is DuckDB-only syntax; its ANSI
    // expansion — left join on the inequality, keep each click's
    // greatest purchase ts (rank over the per-click partition; clicks
    // are keyed by event_id so duplicate (user, ts) clicks keep their
    // multiplicity; purchases are grouped on (user, ts) so the rank
    // has no ties) — runs verbatim on both engines.
    "asof_attribution" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click' AND ts IS NOT NULL
        |), purchases AS (
        |  SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |  GROUP BY user_id, ts
        |), best AS (
        |  SELECT ts, purchase_value,
        |         row_number() OVER (PARTITION BY event_id
        |           ORDER BY pts DESC NULLS LAST) AS rk
        |  FROM (
        |    SELECT c.event_id, c.ts, p.ts AS pts, p.purchase_value
        |    FROM clicks c LEFT JOIN purchases p
        |      ON c.user_id = p.user_id AND p.ts <= c.ts) j
        |)
        |SELECT substr(CAST(ts AS VARCHAR(30)), 1, 10) AS click_date,
        |       count(*) AS n_clicks,
        |       count(purchase_value) AS n_attributed,
        |       floor((CAST(sum(CAST(purchase_value AS DECIMAL(30,2))) AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS attributed_value
        |FROM best WHERE rk = 1
        |GROUP BY 1
        |ORDER BY click_date ASC""".stripMargin,
    "range_views_before_purchase" ->
      """WITH purchases AS (
        |  SELECT user_id, event_id AS pid, ts
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |), views AS (
        |  SELECT user_id, ts AS vts
        |  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
        |)
        |SELECT substr(CAST(p.ts AS VARCHAR(30)), 1, 10) AS purchase_date,
        |       count(*) AS n_view_purchase_pairs,
        |       count(DISTINCT p.pid) AS n_purchases_with_view
        |FROM purchases p JOIN views v
        |  ON p.user_id = v.user_id
        | AND v.vts >= p.ts - INTERVAL 1 HOUR
        | AND v.vts <= p.ts
        |GROUP BY 1
        |ORDER BY purchase_date ASC""".stripMargin,
    "dedup_groups" ->
      s"""WITH RECURSIVE $dkComponentCtes
         |SELECT comp AS group_id, count(*) AS n_docs, max(id) AS max_doc
         |FROM comps GROUP BY comp
         |ORDER BY group_id ASC""".stripMargin,
    "communities_lpa" ->
      s"""WITH $dkPairGraphCtes,
         |edgesm AS MATERIALIZED (SELECT a, b FROM edges),
         |lp0 AS (SELECT DISTINCT a AS id, a AS lbl FROM edgesm),
         |${(1 to 4).map(dkLpaRound).mkString(",\n")}
         |SELECT lbl AS community, count(*) AS n_members,
         |       min(id) AS min_doc, max(id) AS max_doc
         |FROM lp4 GROUP BY 1
         |ORDER BY community ASC""".stripMargin,
    "dup_inflation" ->
      s"""WITH RECURSIVE $dkComponentCtes,
         |exs AS (
         |  SELECT count(*) AS n_docs, count(DISTINCT fp) AS n_exact_unique
         |  FROM (SELECT sha256(regexp_replace(lower(trim(text)), '[ \t\n\f\r]+', ' ', 'g')) AS fp
         |        FROM documents)
         |), nrs AS (
         |  SELECT count(*) AS n_near_nodes, count(DISTINCT comp) AS n_near_groups FROM comps
         |)
         |SELECT n_docs, n_exact_unique, n_near_nodes, n_near_groups,
         |       n_docs - (n_near_nodes - n_near_groups) AS n_keep_near,
         |       CAST(floor(CAST(n_docs - (n_near_nodes - n_near_groups) AS DOUBLE)
         |            / n_docs * 1e6 + 0.5) AS BIGINT) AS keep_share_micro
         |FROM exs, nrs""".stripMargin,
    "lsh_pair_recall" ->
      // docsrc replays the engine's sampling dispatch: full corpus at
      // oracle SFs, the deterministic doc_id % mod = 1 slice above the
      // threshold (scalar-subquery gate — the stream_join_views
      // cohort pattern)
      s"""WITH docsrc AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE (SELECT count(*) FROM documents) <= $RecallSampleThreshold
         |     OR doc_id % $RecallSampleMod = 1
         |),
         |${dkPairGraphCtesFrom("docsrc")},
         |exl AS (SELECT count(*) AS n_exact FROM jac WHERE jraw >= 0.5),
         |lsl AS (SELECT count(*) AS n_lsh FROM pairs)
         |SELECT CAST(n_exact AS BIGINT) AS n_exact, CAST(n_lsh AS BIGINT) AS n_lsh,
         |       CAST(CASE WHEN n_exact > 0
         |                 THEN floor(CAST(n_lsh AS DOUBLE) / n_exact * 1e6 + 0.5)
         |                 ELSE 1000000 END AS BIGINT) AS recall_micro
         |FROM exl, lsl""".stripMargin,
    "dedup_threshold_sweep" ->
      // docsrc replays the engine's sampling dispatch (the
      // lsh_pair_recall pattern)
      s"""WITH docsrc AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE (SELECT count(*) FROM documents) <= $RecallSampleThreshold
         |     OR doc_id % $RecallSampleMod = 1
         |),
         |${dkSizesFrom("docsrc")}, $dkJaccardPairs,
         |swp AS (
         |  SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bin,
         |         CAST(floor(jaccard * 1e4 + 0.5) AS BIGINT) AS j4
         |  FROM jac WHERE jraw >= 0.1
         |)
         |SELECT bin, count(*) AS n_pairs, CAST(sum(j4) AS BIGINT) AS sum_j4
         |FROM swp GROUP BY 1 ORDER BY bin ASC""".stripMargin,
    "dup_source_matrix" ->
      s"""WITH $dkPairGraphCtes,
         |sp AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_lo,
         |       greatest(sa.source, sb.source) AS source_hi,
         |       count(*) AS n_pairs
         |FROM pairs p
         |JOIN sp sa ON p.doc_a = sa.doc_id
         |JOIN sp sb ON p.doc_b = sb.doc_id
         |GROUP BY 1, 2
         |ORDER BY source_lo ASC, source_hi ASC""".stripMargin,
    "split_leakage_pairs" ->
      s"""WITH $dkPairGraphCtes,
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN ((doc_id * 2654435761) % $P) % 100 < 80 THEN 'train'
         |              WHEN ((doc_id * 2654435761) % $P) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents
         |)
         |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
         |FROM pairs p
         |JOIN sp sa ON p.doc_a = sa.doc_id
         |JOIN sp sb ON p.doc_b = sb.doc_id
         |WHERE sa.split <> sb.split
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    "dedup_keep" ->
      s"""WITH RECURSIVE $dkComponentCtes,
         |dropped AS (SELECT id FROM comps WHERE id <> comp)
         |SELECT lang, count(*) AS n_kept,
         |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens
         |FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM dropped)
         |GROUP BY lang
         |ORDER BY lang ASC""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $dkComponentCtes,
         |feats AS (
         |  SELECT doc_id, lang,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt_l,
         |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |         CAST(len(list_filter(string_split(text, ' '),
         |              w -> list_contains(string_split('the a an and or of to in is it', ' '), w))) AS DOUBLE)
         |           / len(string_split(text, ' ')) AS swr,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |           / len(string_split(text, ' ')) AS ttr,
         |         (length(text) - len(string_split(text, ' ')) + 1.0) / len(string_split(text, ' ')) AS awl
         |  FROM documents
         |), scored AS (
         |  SELECT doc_id, lang, nt_l,
         |         floor(((CASE WHEN nt >= 20 AND nt <= 80 THEN 1.0 WHEN nt >= 10 THEN 0.5 ELSE 0.0 END)
         |          + (CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END)
         |          + (CASE WHEN ttr >= 0.3 THEN 1.0 WHEN ttr >= 0.15 THEN 0.5 ELSE 0.0 END)
         |          + (CASE WHEN awl >= 3 AND awl <= 10 THEN 1.0 ELSE 0.0 END)) / 4.0 * 1e4 + 0.5) / 1e4 AS quality
         |  FROM feats
         |), wc AS (
         |  SELECT s.*, coalesce(c.comp, s.doc_id) AS clu
         |  FROM scored s LEFT JOIN comps c ON c.id = s.doc_id
         |), keep AS (
         |  SELECT * FROM (
         |    SELECT wc.*, row_number() OVER (PARTITION BY clu
         |                                    ORDER BY quality DESC, doc_id ASC) AS rn
         |    FROM wc) t
         |  WHERE rn = 1
         |)
         |SELECT lang, count(*) AS n_kept,
         |       CAST(sum(nt_l) AS BIGINT) AS kept_tokens,
         |       CAST(sum(CAST(floor(quality * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS quality_sum_q4
         |FROM keep
         |GROUP BY lang
         |ORDER BY lang ASC""".stripMargin,
    "mix_budget" ->
      """WITH feats AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt_l,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              w -> list_contains(string_split('the a an and or of to in is it', ' '), w))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS swr,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS ttr,
        |         (length(text) - len(string_split(text, ' ')) + 1.0) / len(string_split(text, ' ')) AS awl
        |  FROM documents
        |), scored AS (
        |  SELECT doc_id, lang, nt_l,
        |         floor(((CASE WHEN nt >= 20 AND nt <= 80 THEN 1.0 WHEN nt >= 10 THEN 0.5 ELSE 0.0 END)
        |          + (CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END)
        |          + (CASE WHEN ttr >= 0.3 THEN 1.0 WHEN ttr >= 0.15 THEN 0.5 ELSE 0.0 END)
        |          + (CASE WHEN awl >= 3 AND awl <= 10 THEN 1.0 ELSE 0.0 END)) / 4.0 * 1e4 + 0.5) / 1e4 AS q
        |  FROM feats
        |), ranked AS (
        |  SELECT lang, nt_l,
        |         sum(nt_l) OVER (PARTITION BY lang ORDER BY q DESC, doc_id ASC
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM scored
        |)
        |SELECT lang, count(*) AS n_docs, CAST(sum(nt_l) AS BIGINT) AS total_tokens
        |FROM ranked WHERE cum <= 2000
        |GROUP BY lang
        |ORDER BY lang ASC""".stripMargin,
    "sample_strata" ->
      s"""SELECT lang, count(*) AS n_sampled
         |FROM documents
         |WHERE ((doc_id * 2654435761) % $P) % 100 <
         |      CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 WHEN 'fr' THEN 20
         |                WHEN 'es' THEN 10 WHEN 'zh' THEN 5 ELSE 10 END
         |GROUP BY lang
         |ORDER BY lang ASC""".stripMargin,
    "split_train_val_test" ->
      s"""SELECT CASE WHEN ((doc_id * 2654435761) % $P) % 100 < 80 THEN 'train'
         |            WHEN ((doc_id * 2654435761) % $P) % 100 < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |       lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |GROUP BY 1, 2
         |ORDER BY split ASC, lang ASC""".stripMargin,
    "lm_surprisal" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |), uni AS (
         |  SELECT w1, count(*) AS c_a FROM (SELECT unnest(t) AS w1 FROM tk) GROUP BY 1
         |), voc AS (
         |  SELECT count(*) AS v FROM uni
         |), bi AS (
         |  SELECT w1, w2, count(*) AS c_ab FROM (
         |    SELECT bg['w1'] AS w1, bg['w2'] AS w2 FROM (
         |      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |               i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
         |      FROM tk WHERE len(t) >= 2))
         |  GROUP BY 1, 2
         |), db AS (
         |  SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
         |             i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
         |    FROM tk WHERE len(t) >= 2)
         |), pp AS (
         |  SELECT d.doc_id,
         |         CAST(coalesce(b.c_ab, 0) + 1 AS DOUBLE)
         |           / CAST(coalesce(u.c_a, 0) + voc.v AS DOUBLE) AS p
         |  FROM db d
         |  LEFT JOIN bi b ON b.w1 = d.w1 AND b.w2 = d.w2
         |  LEFT JOIN uni u ON u.w1 = d.w1
         |  CROSS JOIN voc
         |), sc AS (
         |  SELECT doc_id, CAST(floor(${LanguageModel.dkSurprisal("p")} * 1e6 + 0.5) AS BIGINT) AS su
         |  FROM pp
         |)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       floor(CAST(sum(su) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) / 1e6 AS avg_bits
         |FROM sc GROUP BY doc_id
         |ORDER BY avg_bits DESC, doc_id ASC
         |LIMIT 20""".stripMargin,
    "lm_backoff" ->
      s"""WITH rtk AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id % 2 = 0
         |), stk AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id % 2 = 1
         |), uni AS (
         |  SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM rtk) GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(c1) AS BIGINT) AS n_tok, count(*) AS v FROM uni
         |), rbi AS (
         |  SELECT w1, w2, count(*) AS c12 FROM (
         |    SELECT bg['w1'] AS w1, bg['w2'] AS w2 FROM (
         |      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |               i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
         |      FROM rtk WHERE len(t) >= 2))
         |  GROUP BY 1, 2
         |), rtri AS (
         |  SELECT w1, w2, w3, count(*) AS c123 FROM (
         |    SELECT tg['w1'] AS w1, tg['w2'] AS w2, tg['w3'] AS w3 FROM (
         |      SELECT unnest(list_transform(generate_series(1, len(t) - 2),
         |               i -> struct_pack(w1 := t[i], w2 := t[i + 1], w3 := t[i + 2]))) AS tg
         |      FROM rtk WHERE len(t) >= 3))
         |  GROUP BY 1, 2, 3
         |), trim_ AS (
         |  SELECT r.w1, r.w2, r.w3, r.c123, b.c12
         |  FROM rtri r JOIN rbi b ON r.w1 = b.w1 AND r.w2 = b.w2
         |), bim AS (
         |  SELECT b.w1 AS w2, b.w2 AS w3, b.c12 AS c23, u.c1 AS c2
         |  FROM rbi b JOIN uni u ON u.w = b.w1
         |), dtri AS (
         |  SELECT doc_id, tg['w1'] AS w1, tg['w2'] AS w2, tg['w3'] AS w3 FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
         |             i -> struct_pack(w1 := t[i], w2 := t[i + 1], w3 := t[i + 2]))) AS tg
         |    FROM stk WHERE len(t) >= 3)
         |), pp AS (
         |  SELECT d.doc_id,
         |         CASE WHEN t.c123 IS NOT NULL THEN CAST(t.c123 AS DOUBLE) / CAST(t.c12 AS DOUBLE)
         |              WHEN m.c23 IS NOT NULL THEN CAST(0.4 AS DOUBLE) * (CAST(m.c23 AS DOUBLE) / CAST(m.c2 AS DOUBLE))
         |              ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
         |                   * (CAST(coalesce(u.c1, 0) + 1 AS DOUBLE) / CAST(n_tok + v AS DOUBLE)) END AS p
         |  FROM dtri d
         |  LEFT JOIN trim_ t ON d.w1 = t.w1 AND d.w2 = t.w2 AND d.w3 = t.w3
         |  LEFT JOIN bim m ON d.w2 = m.w2 AND d.w3 = m.w3
         |  LEFT JOIN uni u ON u.w = d.w3
         |  CROSS JOIN tot
         |), sc AS (
         |  SELECT doc_id, CAST(floor(${LanguageModel.dkSurprisal("p")} * 1e6 + 0.5) AS BIGINT) AS su
         |  FROM pp
         |)
         |SELECT doc_id, count(*) AS n_trigrams,
         |       floor(CAST(sum(su) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) / 1e6 AS avg_bits
         |FROM sc GROUP BY doc_id
         |ORDER BY avg_bits DESC, doc_id ASC
         |LIMIT 20""".stripMargin,
    "sample_priority" ->
      s"""WITH wgt AS (
         |  SELECT doc_id, lang, n_chars,
         |         CAST(n_chars AS DOUBLE) * 1048576.0
         |           / CAST(((doc_id * 2654435761) % $P) % 1048576 + 1 AS DOUBLE) AS priority
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
         |), top AS (
         |  SELECT doc_id, lang, n_chars, priority,
         |         row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rn
         |  FROM wgt ORDER BY priority DESC, doc_id ASC LIMIT 51
         |), tau AS (
         |  SELECT coalesce(max(CASE WHEN rn = 51 THEN priority END), 0.0) AS t FROM top
         |)
         |SELECT doc_id, lang, n_chars,
         |       floor(priority * 1e4 + 0.5) / 1e4 AS priority,
         |       floor(greatest(CAST(n_chars AS DOUBLE), t) * 1e4 + 0.5) / 1e4 AS w_hat
         |FROM top, tau
         |WHERE rn <= 50
         |ORDER BY priority DESC, doc_id ASC""".stripMargin,
    "sample_priority_lang" ->
      s"""WITH wgt AS (
         |  SELECT doc_id, lang, n_chars,
         |         CAST(n_chars AS DOUBLE) * 1048576.0
         |           / CAST(((doc_id * 2654435761) % $P) % 1048576 + 1 AS DOUBLE) AS priority
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
         |), ranked AS (
         |  SELECT doc_id, lang, n_chars, priority,
         |         row_number() OVER (PARTITION BY lang ORDER BY priority DESC, doc_id ASC) AS rn
         |  FROM wgt
         |), taug AS (
         |  SELECT lang, priority AS t FROM ranked WHERE rn = 11
         |)
         |SELECT r.lang, r.doc_id, r.n_chars,
         |       floor(r.priority * 1e4 + 0.5) / 1e4 AS priority,
         |       floor(greatest(CAST(r.n_chars AS DOUBLE), coalesce(g.t, 0.0)) * 1e4 + 0.5) / 1e4 AS w_hat
         |FROM ranked r LEFT JOIN taug g ON r.lang = g.lang
         |WHERE r.rn <= 10
         |ORDER BY r.lang ASC, priority DESC, doc_id ASC""".stripMargin,
    "dedup_embedding" ->
      s"""WITH $dkEmbPairCtes
         |SELECT vec_a, vec_b, cos FROM epairs
         |ORDER BY vec_a ASC, vec_b ASC""".stripMargin,
    "dedup_embedding_groups" ->
      s"""WITH RECURSIVE $dkEmbPairCtes,
         |eedges AS (
         |  SELECT vec_a AS a, vec_b AS b FROM epairs
         |  UNION ALL SELECT vec_b, vec_a FROM epairs
         |), ereach(id, r) AS (
         |  SELECT a, a FROM eedges
         |  UNION
         |  SELECT e.a, ereach.r FROM eedges e JOIN ereach ON ereach.id = e.b
         |), ecomps AS (
         |  SELECT id, min(r) AS comp FROM ereach GROUP BY id
         |)
         |SELECT comp AS group_id, count(*) AS n_docs, max(id) AS max_doc
         |FROM ecomps GROUP BY comp
         |ORDER BY group_id ASC""".stripMargin,
    "dedup_embedding_ivf" ->
      s"""WITH $dkIvfPairCtes
         |SELECT vec_a, vec_b, cos FROM ipairs
         |ORDER BY vec_a ASC, vec_b ASC""".stripMargin,
    "semdedup_prune" ->
      s"""WITH RECURSIVE $dkIvfPairCtes,
         |sedges AS (
         |  SELECT vec_a AS a, vec_b AS b FROM ipairs
         |  UNION ALL SELECT vec_b, vec_a FROM ipairs
         |), sreach(id, r) AS (
         |  SELECT a, a FROM sedges
         |  UNION
         |  SELECT e.a, sreach.r FROM sedges e JOIN sreach ON sreach.id = e.b
         |), scomps AS (
         |  SELECT id, min(r) AS comp FROM sreach GROUP BY id
         |)
         |SELECT id AS vec_id, comp AS keeper_id FROM scomps
         |WHERE id <> comp
         |ORDER BY vec_id ASC""".stripMargin,
    "embed_outliers" ->
      s"""WITH ex AS (
         |  SELECT label, unnest(embedding) AS v,
         |         unnest(generate_series(1, len(embedding))) AS pos
         |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
         |), cent AS (
         |  SELECT label, pos,
         |         CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         |           / 1e6 / CAST(count(*) AS DOUBLE) AS c
         |  FROM ex GROUP BY 1, 2
         |), cent_arr AS (
         |  SELECT label, list(c ORDER BY pos ASC) AS cent FROM cent GROUP BY 1
         |)
         |SELECT e.vec_id, e.label,
         |       floor(${dkDot("e.embedding", "a.cent")}
         |         / (sqrt(${dkDot("e.embedding", "e.embedding")})
         |            * sqrt(${dkDot("a.cent", "a.cent")})) * 1e6 + 0.5) / 1e6 AS cos
         |FROM embeddings e JOIN cent_arr a ON e.label = a.label
         |WHERE e.embedding IS NOT NULL
         |  AND ${dkDot("e.embedding", "e.embedding")} > 0
         |  AND ${dkDot("a.cent", "a.cent")} > 0
         |ORDER BY cos ASC, vec_id ASC LIMIT 20""".stripMargin,
    "sim_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dkCos("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 5
         |ORDER BY query_id ASC, rank ASC""".stripMargin,
    "sim_topk_lsh" ->
      s"""WITH anchors AS (
         |  -- fixed-seed Gaussian planes, same literals as the engine
         |  ${dkSeededAnchors(3)}
         |), bucketed AS (
         |  SELECT e.vec_id, e.embedding, sum(
         |      CASE WHEN ${dkDot("e.embedding", "a.plane_vec")} > 0
         |           THEN CAST(pow(2, a.rank) AS BIGINT) ELSE 0 END) AS bucket
         |  FROM embeddings e CROSS JOIN anchors a
         |  GROUP BY e.vec_id, e.embedding
         |), scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dkCos("q.embedding", "c.embedding")} AS cos
         |  FROM bucketed q JOIN bucketed c
         |    ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 3
         |ORDER BY query_id ASC, rank ASC""".stripMargin,
    "sim_topk_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS centroid_id, embedding AS c_vec FROM embeddings
         |  ORDER BY vec_id ASC LIMIT 16
         |), c_assign AS (
         |  SELECT vec_id, embedding, centroid_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c_vec")} DESC, c.centroid_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cents c
         |  ) WHERE rn = 1
         |), q_assign AS (
         |  SELECT vec_id, embedding, centroid_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c_vec")} DESC, c.centroid_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cents c
         |    WHERE e.vec_id < 10
         |  ) WHERE rn <= 4
         |), scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dkCos("q.embedding", "c.embedding")} AS cos
         |  FROM q_assign q JOIN c_assign c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked
         |WHERE rank <= 3
         |ORDER BY query_id ASC, rank ASC""".stripMargin,
    "rp_distortion" ->
      s"""WITH anchors AS (
         |  ${dkSeededAnchors(64)}
         |), proj AS (
         |  SELECT e.vec_id,
         |         list(CAST(${dkDot("e.embedding", "a.plane_vec")} AS REAL) ORDER BY a.rank ASC) AS p
         |  FROM embeddings e CROSS JOIN anchors a
         |  GROUP BY e.vec_id
         |), er AS (
         |  SELECT CAST(floor(abs(${dkCos("q.embedding", "c.embedding")}
         |                        - ${dkCos("qp.p", "cp.p")}) * 1e6 + 0.5) AS BIGINT) AS e
         |  FROM embeddings q
         |  JOIN embeddings c ON c.vec_id >= 10 AND c.vec_id < 70
         |  JOIN proj qp ON qp.vec_id = q.vec_id
         |  JOIN proj cp ON cp.vec_id = c.vec_id
         |  WHERE q.vec_id < 10
         |)
         |SELECT 64 AS rdim, count(*) AS n_pairs,
         |       floor(CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) / 1e6 AS mean_abs_err,
         |       CAST(max(e) AS DOUBLE) / 1e6 AS max_abs_err
         |FROM er""".stripMargin,
    "ann_recall" ->
      s"""WITH c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, embedding AS c
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 8)
         |), ${dkKmeansIter(1)}, ${dkKmeansIter(2)},
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), nex AS (SELECT count(*) AS n_exact FROM exact),
         |anchors AS (
         |  ${dkSeededAnchors(3)}
         |), bucketed AS (
         |  SELECT e.vec_id, e.embedding, sum(
         |      CASE WHEN ${dkDot("e.embedding", "a.plane_vec")} > 0
         |           THEN CAST(pow(2, a.rank) AS BIGINT) ELSE 0 END) AS bucket
         |  FROM embeddings e CROSS JOIN anchors a
         |  GROUP BY e.vec_id, e.embedding
         |), lshr AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM bucketed q JOIN bucketed c
         |      ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5
         |), kc_assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1
         |), kq_assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dkCosRaw("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c2 c
         |    WHERE e.vec_id < 10) WHERE rn <= 2
         |), ivfr AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM kq_assign q JOIN kc_assign c ON q.cell = c.cell AND c.vec_id <> q.vec_id)
         |  WHERE rank <= 5
         |), mprobes AS (
         |  -- multi-probe: own bucket + every 1-bit flip of the 3-plane key
         |  SELECT vec_id, embedding,
         |         unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4)]) AS bucket
         |  FROM bucketed WHERE vec_id < 10
         |), mlshr AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dkCos("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM mprobes q JOIN bucketed c
         |      ON q.bucket = c.bucket AND c.vec_id <> q.vec_id)
         |  WHERE rank <= 5
         |), hits_lsh AS (
         |  SELECT count(*) AS n_hits FROM lshr JOIN exact USING (query_id, neighbor_id)
         |), hits_mlsh AS (
         |  SELECT count(*) AS n_hits FROM mlshr JOIN exact USING (query_id, neighbor_id)
         |), hits_ivf AS (
         |  SELECT count(*) AS n_hits FROM ivfr JOIN exact USING (query_id, neighbor_id)
         |)
         |SELECT 'ivf_kmeans' AS method, n_exact, n_hits,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall
         |FROM hits_ivf CROSS JOIN nex
         |UNION ALL
         |SELECT 'lsh', n_exact, n_hits,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall
         |FROM hits_lsh CROSS JOIN nex
         |UNION ALL
         |SELECT 'lsh_multiprobe', n_exact, n_hits,
         |       floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall
         |FROM hits_mlsh CROSS JOIN nex
         |ORDER BY method ASC""".stripMargin,
    // shared dialect: floor-division spelled as floor(x/4.0), explicit
    // group 0 on regexp_extract_all (Spark defaults to 1), chr(12) for
    // form feed (Spark's parser drops the backslash from '\f'), and
    // CAST over `::` (both parse ::, but the CAST form is uniform here)
    "text_token_stats" ->
      """SELECT lang,
        |       count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(string_split(text, ' '),
        |               w -> CAST(floor((length(w) + 3) / 4.0) AS BIGINT))),
        |           (a, x) -> a + x)) AS BIGINT) AS total_subwords,
        |       CAST(sum(len(regexp_extract_all(text,
        |         '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n' || chr(12) || '\r]', 0))) AS BIGINT) AS total_bpe_tokens,
        |       floor((CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4 AS avg_tokens,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang ASC""".stripMargin,
    "text_quality" ->
      """WITH feats AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              w -> list_contains(string_split('the a an and or of to in is it', ' '), w))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS swr,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS ttr,
        |         (length(text) - len(string_split(text, ' ')) + 1.0) / len(string_split(text, ' ')) AS awl
        |  FROM documents
        |), scored AS (
        |  SELECT doc_id, n_tokens,
        |         ((CASE WHEN nt >= 20 AND nt <= 80 THEN 1.0 WHEN nt >= 10 THEN 0.5 ELSE 0.0 END)
        |          + (CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END)
        |          + (CASE WHEN ttr >= 0.3 THEN 1.0 WHEN ttr >= 0.15 THEN 0.5 ELSE 0.0 END)
        |          + (CASE WHEN awl >= 3 AND awl <= 10 THEN 1.0 ELSE 0.0 END)) / 4.0 AS q,
        |         ttr
        |  FROM feats
        |)
        |SELECT doc_id, n_tokens,
        |       floor(q * 1e4 + 0.5) / 1e4 AS quality,
        |       floor(ttr * 1e4 + 0.5) / 1e4 AS ttr
        |FROM scored
        |ORDER BY quality ASC, doc_id ASC
        |LIMIT 50""".stripMargin,
    "text_langid" ->
      """WITH scores AS (
        |  SELECT lang,
        |         len(list_filter(string_split(lower(text), ' '), w -> list_contains(string_split('the and of to is', ' '), w))) AS s_en,
        |         len(list_filter(string_split(lower(text), ' '), w -> list_contains(string_split('der die das und ist', ' '), w))) AS s_de,
        |         len(list_filter(string_split(lower(text), ' '), w -> list_contains(string_split('le la les et est', ' '), w))) AS s_fr,
        |         len(list_filter(string_split(lower(text), ' '), w -> list_contains(string_split('el la los y es', ' '), w))) AS s_es,
        |         len(list_filter(string_split(lower(text), ' '), w -> list_contains(string_split('的 是 了 在 我', ' '), w))) AS s_zh
        |  FROM documents
        |), pred AS (
        |  SELECT lang,
        |         CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) <= 0 THEN 'und'
        |              WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
        |              WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
        |              WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
        |              WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
        |              WHEN s_zh = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'zh'
        |              ELSE 'und' END AS predicted
        |  FROM scores
        |)
        |SELECT lang, predicted, count(*) AS n
        |FROM pred
        |GROUP BY lang, predicted
        |ORDER BY lang ASC, predicted ASC""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, md5($dkNormText) AS fp
         |FROM documents
         |ORDER BY doc_id ASC""".stripMargin,
    "text_winnow" ->
      s"""WITH $dkWinnowCtes
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
         |       list_min(fps) AS min_fp, list_max(fps) AS max_fp
         |FROM winnow
         |ORDER BY doc_id ASC""".stripMargin,
    "winnow_overlap" ->
      s"""WITH $dkWinnowCtes,
         |fpx AS (SELECT doc_id, unnest(fps) AS fp FROM winnow),
         |wpairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM fpx a JOIN fpx b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= 2
         |)
         |SELECT doc_a, doc_b, n_shared FROM wpairs
         |ORDER BY n_shared DESC, doc_a ASC, doc_b ASC
         |LIMIT 50""".stripMargin,
    "profile_events" ->
      s"""WITH ${graft.operators.HistQuantiles.dkCuts("hid", "events", "event_id", 0.5, ProfileBuckets, "id_med")},
         |${graft.operators.HistQuantiles.dkCuts("hu", "events", "user_id", 0.5, ProfileBuckets, "u_med")},
         |${graft.operators.HistQuantiles.dkCuts("hv", "events", "value", 0.5, ProfileBuckets, "v_med")},
         |base AS (
         |  SELECT count(*) AS n_rows,
         |         count(*) FILTER (WHERE event_id IS NULL) AS id_nulls,
         |         count(DISTINCT event_id) AS id_distinct,
         |         CAST(min(event_id) AS DOUBLE) AS id_min, CAST(max(event_id) AS DOUBLE) AS id_max,
         |         count(*) FILTER (WHERE user_id IS NULL) AS u_nulls,
         |         count(DISTINCT user_id) AS u_distinct,
         |         CAST(min(user_id) AS DOUBLE) AS u_min, CAST(max(user_id) AS DOUBLE) AS u_max,
         |         count(*) FILTER (WHERE value IS NULL) AS v_nulls,
         |         count(DISTINCT value) AS v_distinct,
         |         floor((min(value)) * 1e4 + 0.5) / 1e4 AS v_min,
         |         floor((max(value)) * 1e4 + 0.5) / 1e4 AS v_max
         |  FROM events
         |)
         |SELECT 'event_id' AS column_name, n_rows, id_nulls AS n_nulls,
         |       id_distinct AS n_distinct, id_min AS min_value, id_max AS max_value,
         |       floor(id_med * 1e4 + 0.5) / 1e4 AS median_value FROM base, hid
         |UNION ALL
         |SELECT 'user_id', n_rows, u_nulls, u_distinct, u_min, u_max,
         |       floor(u_med * 1e4 + 0.5) / 1e4 FROM base, hu
         |UNION ALL
         |SELECT 'value', n_rows, v_nulls, v_distinct, v_min, v_max,
         |       floor(v_med * 1e4 + 0.5) / 1e4 FROM base, hv
         |ORDER BY column_name ASC""".stripMargin,
    "feat_lang_profile" ->
      s"""WITH ftok AS (SELECT lang, unnest($dkTokenHashes) AS h FROM documents),
         |fdim AS (
         |  SELECT lang, h % 64 AS dim, ((CAST(floor(h / 64.0) AS BIGINT)) % 2) * 2 - 1 AS sign FROM ftok
         |), fcnt AS (
         |  SELECT lang, dim, CAST(sum(sign) AS BIGINT) AS cnt FROM fdim GROUP BY 1, 2
         |), fstats AS (
         |  SELECT lang, count(*) AS nnz,
         |         CAST(sum(abs(cnt)) AS BIGINT) AS l1,
         |         CAST(sum(cnt * cnt) AS BIGINT) AS l2sq
         |  FROM fcnt GROUP BY 1
         |), fen AS (SELECT dim, cnt AS ecnt FROM fcnt WHERE lang = 'en'),
         |fdots AS (
         |  SELECT c.lang, CAST(sum(c.cnt * e.ecnt) AS BIGINT) AS dot_en
         |  FROM fcnt c JOIN fen e USING (dim) GROUP BY 1
         |), fenl2 AS (SELECT l2sq AS en_l2sq FROM fstats WHERE lang = 'en')
         |SELECT s.lang, s.nnz, s.l1, s.l2sq,
         |       floor(CAST(dot_en AS DOUBLE)
         |             / (sqrt(CAST(s.l2sq AS DOUBLE)) * sqrt(CAST(en_l2sq AS DOUBLE)))
         |             * 1e6 + 0.5) / 1e6 AS cos_en
         |FROM fstats s JOIN fdots USING (lang) CROSS JOIN fenl2
         |ORDER BY lang ASC""".stripMargin,
    "kmv_persist_merge" ->
      // the single-shot full-corpus replay: the persisted-and-merged
      // two-run sketch must estimate IDENTICALLY (KMV merge is exact)
      s"""WITH src AS (SELECT CAST(user_id AS VARCHAR(30)) AS s FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
         |${dkKmvEst("src", 256, "k")},
         |ex AS (SELECT count(DISTINCT s) AS n_exact FROM src)
         |SELECT 256 AS k, n_exact, kth_hash, n_est,
         |       floor(abs(n_est - n_exact) / CAST(n_exact AS DOUBLE) * 1e4 + 0.5) / 1e4 AS rel_err
         |FROM ke CROSS JOIN ex""".stripMargin,
    "kmv_distinct_events" ->
      s"""WITH src AS (SELECT CAST(event_id AS VARCHAR(30)) AS s FROM events WHERE event_id IS NOT NULL),
         |${dkKmvEst("src", 256, "k")},
         |ex AS (SELECT count(DISTINCT s) AS n_exact FROM src)
         |SELECT 256 AS k, n_exact, kth_hash, n_est,
         |       floor(abs(n_est - n_exact) / CAST(n_exact AS DOUBLE) * 1e4 + 0.5) / 1e4 AS rel_err
         |FROM ke CROSS JOIN ex""".stripMargin,
    "bloom_join_urgent" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |       floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin,
    "skew_salted_rollup" ->
      """WITH ev AS (
        |  SELECT event_type, value, substr(CAST(ts AS VARCHAR(30)), 1, 10) AS event_date
        |  FROM events WHERE ts IS NOT NULL
        |), dates AS (
        |  -- convention-free day-of-week: the same-NAMED builtins
        |  -- disagree (Spark dayofweek 1=Sunday..7, DuckDB 0=Sunday..6,
        |  -- and shadowing would leak into DataFrame-API queries — see
        |  -- Views), so count epoch days mod 7 anchored at 1970-01-01 =
        |  -- Thursday: +4 then +1 lands Sunday on 1, Spark's convention
        |  SELECT DISTINCT event_date,
        |         (CAST(floor(epoch_us(CAST(CAST(event_date AS DATE) AS TIMESTAMP))
        |                     / 86400000000.0) AS BIGINT) + 4) % 7 + 1 AS dow
        |  FROM ev
        |)
        |SELECT event_type, dow, count(*) AS n_events,
        |       floor((CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS total_value
        |FROM ev JOIN dates USING (event_date)
        |GROUP BY event_type, dow
        |ORDER BY event_type ASC, dow ASC""".stripMargin,
    "kmv_daily_users" ->
      s"""WITH dsrc AS (
         |  SELECT substr(CAST(ts AS VARCHAR(30)), 1, 10) AS event_date, CAST(user_id AS VARCHAR(30)) AS s
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
         |), dhs AS (
         |  SELECT DISTINCT event_date, (${dkWordHash("s")} * 2654435761) % $P AS h FROM dsrc
         |), drk AS (
         |  SELECT event_date, h,
         |         row_number() OVER (PARTITION BY event_date ORDER BY h ASC) AS rn
         |  FROM dhs
         |), dag AS (
         |  SELECT event_date, count(*) AS m, max(h) AS kth,
         |         CASE WHEN count(*) < 32 THEN count(*)
         |              ELSE CAST(floor(CAST('${(31.0 * P).toString}' AS DOUBLE) / CAST(max(h) AS DOUBLE)) AS BIGINT) END AS n_est
         |  FROM drk WHERE rn <= 32 GROUP BY 1
         |), dex AS (
         |  SELECT event_date, count(DISTINCT s) AS n_exact FROM dsrc GROUP BY 1
         |)
         |SELECT event_date, n_exact, n_est,
         |       floor(abs(n_est - n_exact) / CAST(n_exact AS DOUBLE) * 1e4 + 0.5) / 1e4 AS rel_err
         |FROM dag JOIN dex USING (event_date)
         |ORDER BY event_date ASC""".stripMargin,
    "kmv_rolling_users" ->
      s"""WITH rsrc AS (
         |  SELECT CAST(ts AS DATE) AS d, CAST(user_id AS VARCHAR(30)) AS s
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
         |), rdays AS (
         |  SELECT DISTINCT d FROM rsrc
         |), rhs AS (
         |  SELECT DISTINCT d, (${dkWordHash("s")} * 2654435761) % $P AS h FROM rsrc
         |), rwin AS (
         |  SELECT DISTINCT t.d AS day, u.h
         |  FROM rdays t JOIN rhs u ON u.d BETWEEN t.d - 6 AND t.d
         |), rrk AS (
         |  SELECT day, h,
         |         row_number() OVER (PARTITION BY day ORDER BY h ASC) AS rn
         |  FROM rwin
         |), rag AS (
         |  SELECT day, count(*) AS m, max(h) AS kth,
         |         CASE WHEN count(*) < 32 THEN count(*)
         |              ELSE CAST(floor(CAST('${(31.0 * P).toString}' AS DOUBLE) / CAST(max(h) AS DOUBLE)) AS BIGINT) END AS n_est
         |  FROM rrk WHERE rn <= 32 GROUP BY 1
         |), rex AS (
         |  SELECT t.d AS day, count(DISTINCT u.s) AS n_exact
         |  FROM rdays t JOIN rsrc u ON u.d BETWEEN t.d - 6 AND t.d
         |  GROUP BY 1
         |)
         |SELECT substr(CAST(day AS VARCHAR(30)), 1, 10) AS day, n_exact, n_est,
         |       floor(abs(n_est - n_exact) / CAST(n_exact AS DOUBLE) * 1e4 + 0.5) / 1e4 AS rel_err
         |FROM rag JOIN rex USING (day)
         |ORDER BY day ASC""".stripMargin,
    "kmv_user_overlap" ->
      s"""WITH ca AS (
         |  SELECT CAST(user_id AS VARCHAR(30)) AS s FROM events
         |  WHERE user_id IS NOT NULL AND event_type = 'click'
         |), cb AS (
         |  SELECT CAST(user_id AS VARCHAR(30)) AS s FROM events
         |  WHERE user_id IS NOT NULL AND event_type = 'purchase'
         |),
         |${dkKmvEst("ca", 64, "a")},
         |${dkKmvEst("cb", 64, "b")},
         |uh AS (SELECT h FROM am UNION SELECT h FROM bm),
         |um AS (SELECT h FROM uh ORDER BY h ASC LIMIT 64),
         |ue AS (
         |  SELECT count(*) AS m, max(h) AS kth_hash,
         |         CASE WHEN count(*) < 64 THEN count(*)
         |              ELSE CAST(floor(CAST('${(63.0 * P).toString}' AS DOUBLE) / CAST(max(h) AS DOUBLE)) AS BIGINT) END AS n_est
         |  FROM um)
         |SELECT ae.n_est AS n_a, be.n_est AS n_b, ue.n_est AS n_union,
         |       greatest(ae.n_est + be.n_est - ue.n_est, CAST(0 AS BIGINT)) AS n_intersect
         |FROM ae CROSS JOIN be CROSS JOIN ue""".stripMargin,
    "dedup_incremental" ->
      s"""WITH itok AS (SELECT doc_id, source, $dkTokenHashes AS th FROM documents),
         |ish AS (SELECT doc_id, source, unnest($dkShingles) AS sh FROM itok),
         |isz AS (SELECT doc_id, count(*) AS n_sh FROM ish GROUP BY 1),
         |isig AS (
         |  SELECT doc_id, source,
         |         list_transform(generate_series(0, 15),
         |           i -> list_min(list_transform($dkShingles,
         |                  h -> (CAST(2*i+1 AS BIGINT) * h + 999983 * CAST(i AS BIGINT)) % $P))) AS minhash
         |  FROM itok
         |), iband AS (
         |  SELECT doc_id, source, b.b AS band, list_slice(minhash, b.b * 2 + 1, b.b * 2 + 2) AS key
         |  FROM isig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b
         |), icand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |  FROM iband a JOIN iband c ON a.band = c.band AND a.key = c.key
         |  WHERE a.source = 'src1' AND c.source <> 'src1'
         |), iint AS (
         |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, count(*) AS n_ab
         |  FROM ish a JOIN ish c ON a.sh = c.sh
         |  WHERE a.source = 'src1' AND c.source <> 'src1'
         |  GROUP BY 1, 2
         |)
         |SELECT i.doc_a, i.doc_b,
         |       floor(CAST(n_ab AS DOUBLE) / (sa.n_sh + sb.n_sh - n_ab) * 1e4 + 0.5) / 1e4 AS jaccard
         |FROM iint i
         |JOIN icand USING (doc_a, doc_b)
         |JOIN isz sa ON sa.doc_id = i.doc_a
         |JOIN isz sb ON sb.doc_id = i.doc_b
         |WHERE CAST(n_ab AS DOUBLE) / (sa.n_sh + sb.n_sh - n_ab) >= 0.5
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    "heavy_hitter_tokens" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL
        |), tot AS (SELECT count(*) AS n_total FROM tok)
        |SELECT token, count(*) AS n_exact, max(n_total) AS n_total
        |FROM tok, tot
        |GROUP BY token
        |HAVING count(*) * 65 > max(n_total)
        |ORDER BY n_exact DESC, token ASC""".stripMargin,
    "cms_token_counts" ->
      s"""WITH ctok AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
         |), cth AS (
         |  SELECT token, ${dkWordHash("token")} AS h FROM ctok
         |), cpos AS (
         |  SELECT t.i, ((h * (2 * t.i + 1) + 999983 * t.i) % $P) % 512 AS pos
         |  FROM cth CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) t
         |), counters AS (
         |  SELECT i, pos, count(*) AS cnt FROM cpos GROUP BY 1, 2
         |), truth AS (
         |  SELECT token, count(*) AS n_true FROM ctok GROUP BY 1
         |  ORDER BY n_true DESC, token ASC LIMIT 10
         |), qpos AS (
         |  SELECT token, n_true, t.i,
         |         ((${dkWordHash("token")} * (2 * t.i + 1) + 999983 * t.i) % $P) % 512 AS pos
         |  FROM truth CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) t
         |), est AS (
         |  SELECT token, n_true, min(coalesce(cnt, 0)) AS n_est
         |  FROM qpos LEFT JOIN counters USING (i, pos)
         |  GROUP BY 1, 2
         |)
         |SELECT token, n_true, CAST(n_est AS BIGINT) AS n_est,
         |       CAST(n_est - n_true AS BIGINT) AS overcount
         |FROM est
         |ORDER BY n_true DESC, token ASC""".stripMargin,
    "cms_join_size" ->
      s"""WITH ko AS (
         |  SELECT CAST(o_custkey AS VARCHAR(30)) AS k FROM orders WHERE o_custkey IS NOT NULL
         |), ke AS (
         |  SELECT CAST(user_id AS VARCHAR(30)) AS k FROM events WHERE user_id IS NOT NULL
         |), pa AS (
         |  SELECT t.i AS row, ((h * (2 * t.i + 1) + 999983 * t.i) % $P) % 8192 AS pos
         |  FROM (SELECT ${dkWordHash("k")} AS h FROM ko) CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) t
         |), sa AS (
         |  SELECT row, pos, count(*) AS ca FROM pa GROUP BY 1, 2
         |), pb AS (
         |  SELECT t.i AS row, ((h * (2 * t.i + 1) + 999983 * t.i) % $P) % 8192 AS pos
         |  FROM (SELECT ${dkWordHash("k")} AS h FROM ke) CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) t
         |), sb AS (
         |  SELECT row, pos, count(*) AS cb FROM pb GROUP BY 1, 2
         |), ip AS (
         |  SELECT row, sum(ca * cb) AS ip FROM sa JOIN sb USING (row, pos) GROUP BY 1
         |), mi AS (
         |  SELECT min(ip) AS min_ip, count(*) AS n_rows FROM ip
         |), est AS (
         |  SELECT CAST(CASE WHEN n_rows < 4 THEN 0 ELSE min_ip END AS BIGINT) AS join_size_est FROM mi
         |), act AS (
         |  SELECT CAST(sum(n_o * n_e) AS BIGINT) AS join_size_actual FROM
         |    (SELECT k, count(*) AS n_o FROM ko GROUP BY 1) a
         |    JOIN (SELECT k, count(*) AS n_e FROM ke GROUP BY 1) b USING (k)
         |)
         |SELECT join_size_est, join_size_actual,
         |       floor(CAST(join_size_est AS DOUBLE) / CAST(join_size_actual AS DOUBLE) * 1e4 + 0.5) / 1e4 AS over_ratio
         |FROM est, act""".stripMargin,
    "stream_dedup_docs" ->
      s"""SELECT count(DISTINCT fp) AS n_rows, count(DISTINCT fp) AS n_distinct_fp
         |FROM (SELECT sha256($dkNormText) AS fp
         |      FROM documents)""".stripMargin,
    "bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC""".stripMargin,
    "incr_merge_partitioned" ->
      // relational replay of the merged END STATE: dedupe to one row
      // per key (lexicographically-greatest tuple — the entry's
      // max-struct), then apply the third batch's moved/updated
      // correction slice (key % 21 = 0: +365 days partition move,
      // +1.0 value) and roll up per date. Any stale duplicate the
      // partition-scoped surgery left behind (or any row it lost)
      // flips count/sum here.
      """WITH evx AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date, value,
        |         row_number() OVER (PARTITION BY event_id
        |           ORDER BY CAST(ts AS DATE) DESC, user_id DESC, event_type DESC, value DESC) AS rn
        |  FROM events
        |  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND value IS NOT NULL
        |), finalst AS (
        |  SELECT event_id, user_id,
        |         CASE WHEN event_id % 3 = 0 AND event_id % 7 = 0
        |              THEN event_date + 365 ELSE event_date END AS event_date,
        |         CASE WHEN event_id % 3 = 0 AND event_id % 7 = 0
        |              THEN value + 1.0 ELSE value END AS value
        |  FROM evx WHERE rn = 1
        |)
        |SELECT strftime(event_date, '%Y-%m-%d') AS event_date,
        |       count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       floor(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_value
        |FROM finalst
        |GROUP BY 1
        |ORDER BY event_date ASC""".stripMargin,
    "incr_merge_hashkeys" ->
      // the incr_merge_partitioned replay, keyed on the sha256
      // surrogate key the MERGE itself used — the dedupe partitions by
      // the SAME hash expression, so a probe that missed a matched
      // hashed key (stale duplicate / lost move) flips count/sum here
      """WITH evx AS (
        |  SELECT sha256(CAST(event_id AS STRING)) AS ekey,
        |         event_id, user_id, event_type, CAST(ts AS DATE) AS event_date, value,
        |         row_number() OVER (PARTITION BY sha256(CAST(event_id AS STRING))
        |           ORDER BY CAST(ts AS DATE) DESC, user_id DESC, event_type DESC, value DESC) AS rn
        |  FROM events
        |  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND value IS NOT NULL
        |), finalst AS (
        |  SELECT ekey, user_id,
        |         CASE WHEN event_id % 3 = 0 AND event_id % 7 = 0
        |              THEN event_date + 365 ELSE event_date END AS event_date,
        |         CASE WHEN event_id % 3 = 0 AND event_id % 7 = 0
        |              THEN value + 1.0 ELSE value END AS value
        |  FROM evx WHERE rn = 1
        |)
        |SELECT strftime(event_date, '%Y-%m-%d') AS event_date,
        |       count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       floor(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_value
        |FROM finalst
        |GROUP BY 1
        |ORDER BY event_date ASC""".stripMargin,
    "incr_merge_manifest" ->
      // identical relational replay to incr_merge_partitioned — the
      // manifest commit protocol must produce the SAME table a plain
      // in-place partition swap does; only the physical install
      // differs (generation dirs + one manifest file)
      """WITH evx AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date, value,
        |         row_number() OVER (PARTITION BY event_id
        |           ORDER BY CAST(ts AS DATE) DESC, user_id DESC, event_type DESC, value DESC) AS rn
        |  FROM events
        |  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND value IS NOT NULL
        |), finalst AS (
        |  SELECT event_id, user_id,
        |         CASE WHEN event_id % 3 = 0 AND event_id % 7 = 0
        |              THEN event_date + 365 ELSE event_date END AS event_date,
        |         CASE WHEN event_id % 3 = 0 AND event_id % 7 = 0
        |              THEN value + 1.0 ELSE value END AS value
        |  FROM evx WHERE rn = 1
        |)
        |SELECT strftime(event_date, '%Y-%m-%d') AS event_date,
        |       count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       floor(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_value
        |FROM finalst
        |GROUP BY 1
        |ORDER BY event_date ASC""".stripMargin,
    "stream_merge_events" ->
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT event_id) AS n_ids,
        |       floor(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_value,
        |       min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE event_id % 5 = 0
        |GROUP BY event_type
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,
    "stream_merge_partitioned" ->
      // same relational shape as stream_merge_events (event_id unique
      // in the slice, so the merged end state IS the slice), grouped
      // by the partition date the sink is hive-partitioned on
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
        |       count(*) AS n_events,
        |       count(DISTINCT event_id) AS n_ids,
        |       floor(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_value
        |FROM events
        |WHERE event_id % 5 = 2 AND ts IS NOT NULL
        |GROUP BY 1
        |ORDER BY event_date ASC""".stripMargin,
    // the stream-stream join gate's oracle: the plain batch interval
    // join + rollup over the same slice — every match the stream
    // buffers across batches must appear exactly once in the sink
    "stream_join_views" ->
      s"""WITH ev0 AS (
        |  SELECT event_id, user_id, event_type, ts, value
        |  FROM events WHERE ts IS NOT NULL
        |), gate AS (
        |  SELECT count(*) AS n FROM ev0
        |), ev AS (
        |  SELECT * FROM ev0
        |  WHERE (SELECT n FROM gate) < $StreamJoinSliceThreshold
        |     OR user_id % 5 = 1
        |), v AS (
        |  SELECT user_id, ts AS vts FROM ev WHERE event_type = 'view'
        |), p AS (
        |  SELECT user_id, event_id AS pid, ts AS pts, value
        |  FROM ev WHERE event_type = 'purchase'
        |)
        |SELECT substr(CAST(p.pts AS VARCHAR(30)), 1, 10) AS purchase_date,
        |       count(*) AS n_matches,
        |       count(DISTINCT p.pid) AS n_purchases,
        |       floor(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_value
        |FROM p JOIN v
        |  ON p.user_id = v.user_id
        | AND v.vts >= p.pts - INTERVAL 1 HOUR
        | AND v.vts <= p.pts
        |GROUP BY 1
        |ORDER BY purchase_date ASC""".stripMargin,
    "stream_hourly_rollup" ->
      """SELECT substr(CAST(ts AS VARCHAR(30)), 1, 13) || ':00' AS hour,
        |       count(*) AS n_events,
        |       floor(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_value
        |FROM events
        |WHERE event_id % 5 = 1 AND ts IS NOT NULL
        |GROUP BY 1
        |ORDER BY hour ASC""".stripMargin,
    "hll_persist_merge" ->
      // single-shot full-corpus replay: register union is per-bucket
      // MAX, so the two-run persisted-and-merged registers estimate
      // IDENTICALLY to one sketch of everything
      s"""WITH src AS (SELECT CAST(user_id AS VARCHAR(30)) AS s FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
         |${dkHll("src", Seq.empty, 64, "g")},
         |ex AS (SELECT count(DISTINCT s) AS n_exact FROM src)
         |SELECT 64 AS m, n_present, n_exact, n_est,
         |       floor(abs(n_est - n_exact) / CAST(n_exact AS DOUBLE) * 1e4 + 0.5) / 1e4 AS rel_err
         |FROM gx CROSS JOIN ex""".stripMargin,
    "hll_distinct_events" ->
      s"""WITH src AS (SELECT CAST(event_id AS VARCHAR(30)) AS s FROM events WHERE event_id IS NOT NULL),
         |${dkHll("src", Seq.empty, 64, "g")},
         |ex AS (SELECT count(DISTINCT s) AS n_exact FROM src)
         |SELECT 64 AS m, n_present, n_exact, n_est,
         |       floor(abs(n_est - n_exact) / CAST(n_exact AS DOUBLE) * 1e4 + 0.5) / 1e4 AS rel_err
         |FROM gx CROSS JOIN ex""".stripMargin,
    "hll_daily_users" ->
      s"""WITH src AS (
         |  SELECT substr(CAST(ts AS VARCHAR(30)), 1, 10) AS event_date, CAST(user_id AS VARCHAR(30)) AS s
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
         |),
         |${dkHll("src", Seq("event_date"), 64, "d")},
         |ex AS (SELECT event_date, count(DISTINCT s) AS n_exact FROM src GROUP BY 1)
         |SELECT event_date, n_exact, n_present, n_est
         |FROM ex JOIN dx USING (event_date)
         |ORDER BY event_date ASC""".stripMargin,
    "clf_quality_weights" ->
      s"""WITH $dkClfCtes,
         |pred AS (
         |  SELECT y, ${dkClfMrg("wt8")} AS z FROM feats CROSS JOIN wt8
         |), acc AS (
         |  SELECT count(*) AS n,
         |         CAST(sum(CASE WHEN (z >= 0e0) = (y = 1e0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM pred
         |)
         |SELECT n, n_correct,
         |       CAST(floor(b * 1e6 + 0.5e0) AS BIGINT) AS w0_micro,
         |       CAST(floor(w1 * 1e6 + 0.5e0) AS BIGINT) AS w1_micro,
         |       CAST(floor(w2 * 1e6 + 0.5e0) AS BIGINT) AS w2_micro,
         |       CAST(floor(w3 * 1e6 + 0.5e0) AS BIGINT) AS w3_micro,
         |       CAST(floor(w4 * 1e6 + 0.5e0) AS BIGINT) AS w4_micro
         |FROM acc CROSS JOIN wt8""".stripMargin,
    "clf_calibration" ->
      s"""WITH $dkClfCtes,
         |predc AS (
         |  SELECT y, ${dkClfMrg("wt8")} AS z FROM feats CROSS JOIN wt8
         |), ppc AS (
         |  SELECT y, ${dkClfSig("z")} AS p FROM predc
         |), pbc AS (
         |  SELECT CAST(floor(p * 10) AS BIGINT) AS bucket,
         |         CAST(floor(p * 1e6 + 0.5e0) AS BIGINT) AS p_micro, y
         |  FROM ppc
         |)
         |SELECT bucket, count(*) AS n,
         |       CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
         |       CAST(floor(CAST(sum(p_micro) AS DOUBLE) / count(*) + 0.5e0) AS BIGINT)
         |         AS mean_p_micro,
         |       CAST(floor(CAST(sum(CAST(y AS BIGINT)) AS DOUBLE) / count(*) * 1e6 + 0.5e0)
         |         AS BIGINT) AS obs_rate_micro
         |FROM pbc GROUP BY 1 ORDER BY bucket ASC""".stripMargin,
    "clf_keep_docs" ->
      s"""WITH $dkClfCtes,
         |predk AS (
         |  SELECT lang, ${dkClfMrg("wt8")} AS z FROM feats CROSS JOIN wt8
         |)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN z >= 0e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CAST(floor(${dkClfSig("z")} * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS p_micro_sum
         |FROM predk
         |GROUP BY lang
         |ORDER BY lang ASC""".stripMargin,
    "mm_audio_signature" ->
      """WITH pcm AS (
        |  SELECT vec_id, list_transform(embedding, v ->
        |    CAST(least(greatest(floor(CAST(v AS DOUBLE) * 32767.0 + 0.5), -32768), 32767) AS BIGINT)) AS s
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = 64
        |)
        |SELECT vec_id, CAST(f AS INT) AS frame_idx,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(list_slice(s, f * 16 + 1, f * 16 + 16), x -> x * x)),
        |    (acc, v) -> acc + v) AS BIGINT) AS energy,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, 15), i ->
        |    CASE WHEN (list_extract(s, f * 16 + i) < 0) != (list_extract(s, f * 16 + i + 1) < 0)
        |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
        |    (acc, v) -> acc + v) AS BIGINT) AS zero_crossings
        |FROM pcm, (SELECT unnest(list_value(0, 1, 2, 3)) AS f)
        |ORDER BY vec_id ASC, frame_idx ASC""".stripMargin,
    "mm_image_dhash" ->
      """WITH px AS (
        |  SELECT vec_id, list_transform(embedding, v ->
        |    CAST(least(greatest(floor((CAST(v AS DOUBLE) + 1.0) * 127.5), 0), 255) AS BIGINT)) AS p
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = 64
        |)
        |SELECT vec_id,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, 55), i ->
        |    CASE WHEN list_extract(p, CAST(floor(i / 7) AS INT) * 8 + CAST(i % 7 AS INT) + 2)
        |            > list_extract(p, CAST(floor(i / 7) AS INT) * 8 + CAST(i % 7 AS INT) + 1)
        |         THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE CAST(0 AS BIGINT) END)),
        |    (acc, v) -> acc + v) AS BIGINT) AS dhash
        |FROM px ORDER BY vec_id ASC""".stripMargin,
    "mm_video_framehash" ->
      """WITH px AS (
        |  SELECT vec_id, list_transform(embedding, v ->
        |    CAST(least(greatest(floor((CAST(v AS DOUBLE) + 1.0) * 127.5), 0), 255) AS BIGINT)) AS p
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = 64
        |)
        |SELECT vec_id, CAST(f AS INT) AS frame_idx, CAST(f * 40 AS BIGINT) AS t_ms,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, 11), i ->
        |    CASE WHEN list_extract(p, f * 16 + CAST(floor(i / 3) AS INT) * 4 + CAST(i % 3 AS INT) + 2)
        |            > list_extract(p, f * 16 + CAST(floor(i / 3) AS INT) * 4 + CAST(i % 3 AS INT) + 1)
        |         THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE CAST(0 AS BIGINT) END)),
        |    (acc, v) -> acc + v) AS BIGINT) AS framehash
        |FROM px, (SELECT unnest(list_value(0, 1, 2, 3)) AS f)
        |ORDER BY vec_id ASC, frame_idx ASC""".stripMargin,
    "mm_payload_stats" ->
      """SELECT coalesce(lang, 'und') AS kind,
        |       count(*) AS n_media,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       count(DISTINCT sha256(text)) AS n_distinct
        |FROM documents
        |GROUP BY 1
        |ORDER BY kind ASC""".stripMargin
  )

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"       -> (dedupExact _),
    "dedup_jaccard"     -> (dedupJaccard _),
    "dedup_jaccard_prefix" -> ((s: SparkSession, d: String) => dedupJaccardPrefix(s, d)),
    "dedup_containment" -> (dedupContainment _),
    "topk_value_by_type" -> (topkValueByType _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "cosine_verify_lsh" -> (cosineVerifyLsh _),
    "dedup_minhash_fast" -> (dedupMinhashFast _),
    "minhash_fast_precheck" -> (minhashFastPrecheck _),
    "dedup_incremental" -> (dedupIncrementalBatch _),
    "dedup_simhash"     -> (dedupSimhash _),
    "span_dup_spans"    -> (spanDupSpans _),
    "span_dup_profile"  -> (spanDupProfile _),
    "span_dup_excise"   -> (spanDupExcise _),
    "dedup_embedding"   -> (dedupEmbedding _),
    "dedup_embedding_groups" -> (dedupEmbeddingGroups _),
    "dedup_embedding_ivf" -> (dedupEmbeddingIvf _),
    "semdedup_prune"    -> (semdedupPrune _),
    "asof_attribution"  -> (asofAttribution _),
    "range_views_before_purchase" -> (rangeViewsBeforePurchase _),
    "dedup_groups"      -> (dedupGroups _),
    "communities_lpa"   -> (communitiesLpa _),
    "dedup_threshold_sweep" -> ((s: SparkSession, d: String) => dedupThresholdSweep(s, d)),
    "lsh_pair_recall"   -> ((s: SparkSession, d: String) => lshPairRecall(s, d)),
    "dup_inflation"     -> (dupInflation _),
    "split_leakage_pairs" -> (splitLeakagePairs _),
    "dup_source_matrix" -> (dupSourceMatrix _),
    "pagerank_hubs"     -> (pagerankHubs _),
    "kcore_docs"        -> (kcoreDocs _),
    "dedup_keep"        -> (dedupKeep _),
    "dedup_keep_best"   -> (dedupKeepBest _),
    "mix_budget"        -> (mixBudget _),
    "sample_strata"     -> (sampleStrata _),
    "split_train_val_test" -> (splitTrainValTest _),
    "sample_priority"   -> (samplePriority _),
    "sample_priority_lang" -> (samplePriorityLang _),
    "lm_surprisal"      -> (lmSurprisal _),
    "lm_backoff"        -> (lmBackoff _),
    "clf_quality_weights" -> (clfQualityWeights _),
    "clf_keep_docs"     -> (clfKeepDocs _),
    "clf_calibration"   -> (clfCalibration _),
    "kmeans_cells"      -> (kmeansCells _),
    "sim_topk_ivf_kmeans" -> (simTopKIvfKmeans _),
    "sim_topk_pq"       -> (simTopKPq _),
    "pq_distortion"     -> (pqDistortion _),
    "pq_recall"         -> (pqRecall _),
    "sim_topk_ivfadc"   -> (simTopKIvfadc _),
    "ann_persist_serve" -> (annPersistServe _),
    "sim_topk_pq256"    -> (simTopKPq256 _),
    "pq256_recall"      -> (pq256Recall _),
    "ivfadc_recall"     -> (ivfadcRecall _),
    "ivfadc256_recall"  -> (ivfadc256Recall _),
    "pq_recall_d256"    -> (pqRecallD256 _),
    "ivfadc_recall_d256" -> (ivfadcRecallD256 _),
    "sim_topk"          -> (simTopK _),
    "embed_outliers"    -> (embedOutliers _),
    "sim_topk_lsh"      -> (simTopKLsh _),
    "sim_topk_ivf"      -> (simTopKIvf _),
    "ann_recall"        -> (annRecall _),
    "rp_distortion"     -> (rpDistortion _),
    "incr_load_events"  -> (incrLoadEvents _),
    "sessionize_daily"  -> (sessionizeDaily _),
    "gapfill_daily"     -> (gapfillDaily _),
    "fuzzy_pairs_customers" -> (fuzzyPairsCustomers _),
    "scd2_user_versions" -> (scd2UserVersions _),
    "funnel_stages"     -> (funnelStages _),
    "text_repetition"   -> (textRepetition _),
    "text_redact"       -> (textRedact _),
    "passage_dup"       -> (passageDup _),
    "boilerplate_topk"  -> (boilerplateTopk _),
    "text_token_stats"  -> (textTokenStats _),
    "text_quality"      -> (textQuality _),
    "text_langid"       -> (textLangId _),
    "text_fingerprint"  -> (textFingerprint _),
    "text_winnow"       -> (textWinnow _),
    "winnow_overlap"    -> (winnowOverlap _),
    "mm_payload_stats"  -> (mmPayloadStats _),
    "mm_image_dhash"    -> (mmImageDhash _),
    "mm_video_framehash" -> (mmVideoFramehash _),
    "mm_audio_signature" -> (mmAudioSignature _),
    "kmv_distinct_events" -> (kmvDistinctEvents _),
    "kmv_persist_merge"  -> (kmvPersistMerge _),
    "hll_persist_merge"  -> (hllPersistMerge _),
    "feat_lang_profile" -> (featLangProfile _),
    "kmv_user_overlap"  -> (kmvUserOverlap _),
    "kmv_daily_users"   -> (kmvDailyUsers _),
    "kmv_rolling_users" -> (kmvRollingUsers _),
    "hll_distinct_events" -> (hllDistinctEvents _),
    "hll_daily_users"   -> (hllDailyUsers _),
    "heavy_hitter_tokens" -> (heavyHitterTokens _),
    "cms_token_counts"  -> (cmsTokenCounts _),
    "cms_join_size"     -> (cmsJoinSizeOrdersEvents _),
    "incr_merge_partitioned" -> (incrMergePartitioned _),
    "incr_merge_hashkeys" -> (incrMergeHashKeys _),
    "incr_merge_manifest" -> (incrMergeManifest _),
    "stream_merge_events" -> (streamMergeEvents _),
    "stream_merge_partitioned" -> (streamMergePartitioned _),
    "stream_hourly_rollup" -> (streamHourlyRollup _),
    "stream_dedup_docs" -> (streamDedupDocs _),
    "stream_ann_ingest" -> (streamAnnIngest _),
    "fact_compact_read" -> (factCompactRead _),
    "stream_join_views" -> ((s: SparkSession, d: String) => streamJoinViews(s, d)),
    "bucketed_join"     -> (bucketedJoin _),
    "skew_salted_rollup" -> (skewSaltedRollup _),
    "bloom_join_urgent"  -> (bloomJoinUrgent _),
    "profile_events"    -> (profileEvents _)
  )
}
