package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{AsOfJoin, BloomJoin, Corpus, Dedup, Events, Hierarchy, Multimodal, Privacy, RangeJoin, Retail, SaltedJoin, Similarity, Sketches, Stats, StockSim, TextOps}
import graft.etl.ZOrder

/** Extension-surface queries (SURVEY.md §2.11 X1–X6 + the LLM-data-
  * pipeline north star): dedup, text analysis, similarity search, JSON /
  * sessionization, multimodal plumbing. Declared separately so the core
  * retail contract stays readable.
  *
  * Every oracle mirrors the Spark computation exactly — hashing is md5
  * (bit-identical across engines), counts are BIGINT on both sides,
  * ratios are rounded, rankings break ties on ids.
  */
object ExtQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Session-scoped cache of INGEST-TIME store artifacts (trained IVF
    * assignments, LSH signatures, the int8 quantized store). At scale
    * these are persisted tables written once by an offline
    * ingest/training job and PROBED by every query — so the declared
    * queries model them as computed once per (session, corpus) and
    * reused: the first invocation pays the ingest/training cost, every
    * later one (and every bench pass after the first) measures the
    * probe, which is the steady-state cost of the store-backed plan.
    * `localCheckpoint` is the in-session stand-in for the parquet store
    * (SimilarityCentroidSpec asserts the parquet round trip probes
    * identically). Results are invariant to the caching — the stores
    * are pure functions of the corpus — so Verify sees identical
    * output whether or not a store was already warm.
    */
  private[graft] val storeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, String), DataFrame]
  // NOT computeIfAbsent: store builders call OTHER stores (bands →
  // signatures, labels → both), and a nested computeIfAbsent on the same
  // ConcurrentHashMap throws "Recursive update" whenever the two keys
  // land in one bin — a hash-dependent crash. get → build → putIfAbsent
  // is reentrant; a concurrent race can build a store twice, but stores
  // are pure per-corpus functions so either copy is correct and
  // putIfAbsent keeps exactly one.
  private[graft] def store(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame = {
    // Medium switch (graft.ext.DiskStore scaladoc): with a store root
    // configured, the store is a partitioned parquet table on disk
    // and the cached frame is its scan — zero heap residency, the
    // cluster model of an ingest artifact. Default: the session-
    // scoped serialized checkpoint (small-corpus form). The resolved
    // root is part of the cache KEY (ADVICE r15): changing
    // spark.graft.storeDir mid-session switches medium on the next
    // probe instead of being silently ignored for warm kinds.
    val root = s.conf.get("spark.graft.storeDir",
      sys.env.getOrElse("SPARK_GRAFT_STORE_DIR", ""))
    val key = (s, dir, kind, root)
    val hit = storeCache.get(key)
    if (hit != null) hit
    else {
      val built =
        if (root.nonEmpty) graft.ext.DiskStore.atRest(s, root, dir, kind)(build)
        else graft.ext.Ckpt.ser(build)
      val prior = storeCache.putIfAbsent(key, built)
      if (prior != null) prior else built
    }
  }

  /** The occupancy-SCALED trained-IVF assignment store (cells = n/200)
    * shared by the whole scaled ANN family (knn_join_scaled,
    * semantic_dedup_scaled, hard_negatives_scaled, embedding_near_dup,
    * ann_store_replay, semdedup_ingest_replay). Built with the
    * TWO-LEVEL coarse-routed Lloyd loop
    * ([[Similarity.kmeansCellsByOccupancyCoarse]], VERDICT r16 ask #1)
    * — the n^1.5-per-decade ingest (sf100: 53.3 s/assignment pass vs
    * the flat form's 666.8 s) — at the coarseProbes = 1 scale setting;
    * the DuckDB oracle unrolls the same deterministic steps
    * ([[kmeansCoarseCtes]]), so every consumer stays hash-checked.
    */
  private[graft] def scaledCellsStore(s: SparkSession, dir: String,
      emb: DataFrame): DataFrame =
    store(s, dir, "ivf_cells_scaled")(
      Similarity.kmeansCellsByOccupancyCoarse(emb))

  /** The centroid table OF [[scaledCellsStore]] — written beside the
    * assignment at training time (Similarity.trainedCentroids), probed
    * by batch routing and the store audit.
    */
  private[graft] def scaledCentroidsStore(s: SparkSession, dir: String,
      emb: DataFrame): DataFrame =
    store(s, dir, "ivf_centroids_scaled")(
      Similarity.trainedCentroids(emb, scaledCellsStore(s, dir, emb)))

  /** The co-purchase family's shared stages: the distinct per-order item
    * set and the un-gated pair counts (the Σ|basket|² stage), computed
    * once per (session, corpus) — the retail twin of the signature-store
    * discipline.
    */
  private[graft] def copurchaseItemsStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "copurchase_items")(
      Retail.copurchaseItems(Tables.lineitem(s, dir)))

  private[graft] def copurchasePairStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "copurchase_pairs")(
      Retail.copurchasePairCounts(copurchaseItemsStore(s, dir)))

  /** The synthetic decimal category forest over the part keys:
    * parent(p) = p div 10, keys < 10 are roots — the in-plan stand-in
    * for a real category edge table (shared by the hierarchy queries).
    */
  private[graft] def partForest(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).where(col("p_partkey") >= 10)
      .select(col("p_partkey").as("node"),
        expr("p_partkey div 10").as("parent"))

  /** The flattened (node, root, depth) CLOSURE table of [[partForest]]
    * — the materialized form a warehouse maintains beside a category
    * dimension (a recursive CTE resolved once at dim load, re-derived
    * only when the forest changes). The rollup/share reports probe it
    * (r17); `hierarchy_flatten` itself still runs the pointer-doubling
    * resolution in-query — the closure BUILD is what that query
    * declares and measures.
    */
  private[graft] def partClosureStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "part_closure")(Hierarchy.flatten(partForest(s, dir)))

  /** The minhash SIGNATURE STORE (hashed shingle rows — the per-doc
    * pure function every X4 operator consumes; `Dedup.minhashBands`
    * scaladoc documents the at-scale persisted form). One ingest per
    * (session, corpus) serves the whole dedup family.
    */
  private[graft] def minhashStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "minhash_hr")(
      Dedup.hashedShingleRows(Tables.documents(s, dir)))

  /** The BAND TABLE half of the signature store ([[Dedup.minhashBands]]
    * — "computed once per document at ingest and persisted"): probing it
    * skips the 16-permutation min-aggregate per query.
    */
  private[graft] def minhashBandsStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "minhash_bands")(Dedup.minhashBands(minhashStore(s, dir)))

  /** The SIGNATURE-ROW half of the store ([[Dedup.minhashSigRows]] —
    * (doc_id, n, sig_idx, sig_val)): the stratified containment
    * query's 1-row-band channel probes it directly instead of
    * re-running the 16-permutation min-aggregate over the shingle
    * store per query (at 50M docs that re-aggregate IS the pass).
    */
  private[graft] def minhashSigRowsStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "minhash_sigrows")(Dedup.minhashSigRows(minhashStore(s, dir)))

  /** The SHINGLE-SET half of the signature store ([[Dedup.shingleSets]]
    * — `(doc_id, sh)`, "sets by doc_id" in the at-rest layout the
    * [[Dedup.nearDupIncremental]] scaladoc pins): verification joins
    * become point reads against the stored sorted sets by candidate id,
    * so no family query re-runs the corpus-wide collect_set aggregate
    * at probe time (r17 optimization round — guide §2.4, the
    * band-store precedent applied to the store's other half).
    */
  private[graft] def shingleSetsStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "shingle_sets")(Dedup.shingleSets(minhashStore(s, dir)))

  /** The char-gram SET store probed by the gram-Jaccard family. */
  private[graft] def chargramSetsStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "chargram_sets")(
      Dedup.charGramSets(Tables.documents(s, dir)))

  /** The char-gram minhash BAND store ([[Dedup.gramMinhashBands]] —
    * "computable at probe time or persisted beside it"): persisting it
    * removes the 96-permutation min-aggregate from BOTH sides of the
    * banded candidate self-join at probe time (r17 optimization round;
    * the [[minhashBandsStore]] discipline applied to the gram channel).
    */
  private[graft] def chargramBandsStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "chargram_bands")(
      Dedup.gramMinhashBands(chargramSetsStore(s, dir)))

  /** The GROUP-LABEL store: near-dup component labels
    * ([[Dedup.dupGroupsFromHashes]] over the signature store) are a pure
    * per-corpus function and the dedup job's PRIMARY at-rest artifact —
    * a real pipeline computes components once per ingest and every
    * census/split/retention decision probes the label table. Five
    * declared queries consumed this pipeline; before r10 each re-ran
    * candidate generation + verification + the CC iteration per query.
    */
  private[graft] def dupGroupsStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "dup_group_labels")(
      Dedup.dupGroupsFromHashes(minhashStore(s, dir),
        bands = Some(minhashBandsStore(s, dir)),
        sets = Some(shingleSetsStore(s, dir)),
        maxBandOccupancy = BandCap))

  /** The QUALITY-VERDICT store: the narrow (doc_id, reasons) table
    * [[Corpus.qualityFilter]] computes — "the verdict table is the
    * thing you can afford to persist" per the corpusManifest scaladoc,
    * written once per corpus at ingest. Probed by `corpus_manifest` and
    * the manifest-label build (r18); the quality SCAN itself stays a
    * measured in-query path via the standalone `quality_filter` query.
    * Per-doc pure, so any id-slice of the store is exact.
    */
  private[graft] def qualityVerdictStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "quality_verdicts")(
      Corpus.qualityFilter(Tables.documents(s, dir))
        .select(col("doc_id"), col("reasons")))

  /** The exact-dup CONTENT-KEY store: (doc_id, content_key) — the
    * per-doc md5 key table [[Dedup.exact]] elects survivors from,
    * persisted beside the signature store at ingest (r18). Probed by
    * `corpus_manifest`; the full-corpus key scan stays measured via the
    * standalone `dedup_exact` query.
    */
  private[graft] def contentKeyStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "content_keys")(
      Tables.documents(s, dir).select(col("doc_id"),
        Dedup.contentKey(col("text")).as("content_key")))

  /** The MANIFEST-scoped group-label store: near-dup labels over the
    * manifest's KEEPER set (quality survivors of the doc_id % 20 != 0
    * training corpus — the filter-then-dedup contract). Distinct from
    * [[dupGroupsStore]] because the input set differs: a quality-failed
    * doc can bridge two keeper components, so full-corpus labels are
    * not restrictable. Both signature-store halves filter by keeper id
    * (per-doc pure functions), so the build skips re-tokenizing AND the
    * 16-permutation min-aggregate; `corpus_manifest` then probes labels
    * instead of re-running candidate generation + CC per pass.
    */
  private[graft] def manifestLabelsStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "manifest_labels") {
      // The verdict store is per-doc pure, so its %20-slice is exactly
      // qualityFilter(corpus slice) — no second quality scan (r18).
      val keepIds = qualityVerdictStore(s, dir)
        .where(pmod(col("doc_id"), lit(20)) =!= 0 && col("reasons") === "")
        .select("doc_id")
      Dedup.dupGroupsFromHashes(
        minhashStore(s, dir).join(keepIds, "doc_id"),
        bands = Some(minhashBandsStore(s, dir).join(keepIds, "doc_id")),
        // Sets are a per-doc pure function, so the keeper-restricted
        // store slice verifies identically to sets rebuilt from the
        // restricted hr (only keeper pairs are ever candidates).
        sets = Some(shingleSetsStore(s, dir).join(keepIds, "doc_id")),
        maxBandOccupancy = BandCap)
    }

  /** The DISTINCT (doc_id, h) 8-token-shingle store — the k-shingle
    * half of the signature store, shared by span detection, novelty,
    * and decontamination (each side filters it by doc_id predicate,
    * exact because the frame is a per-doc pure function).
    */
  private[graft] def k8ShingleStore(s: SparkSession, dir: String): DataFrame =
    store(s, dir, "k8_shingles")(
      Corpus.shingleHashes(Tables.documents(s, dir), Corpus.DecontamShingle)
        .distinct())

  // shared DuckDB fragments ------------------------------------------------

  /** DuckDB mirror of TextOps.normalized/tokens. */
  private[graft] val normSql = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
  private[graft] val toksSql = s"string_split($normSql, ' ')"
  private[graft] def inList(vals: Seq[String]): String = vals.map(v => s"'$v'").mkString("(", ", ", ")")

  private[graft] val stopEn = inList(TextOps.langProfiles.head._2)

  /** DuckDB mirror of the 2-word shingle set. */
  private[graft] val shinglesSql =
    s"""list_distinct([array_to_string(t[i:i+1], ' ')
       |  for i in range(1, greatest(len(t), 1))])""".stripMargin

  /** DuckDB mirror of Dedup.hash60: top 15 md5 hex digits as BIGINT. */
  private[graft] def hash60Sql(e: String): String = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** DuckDB mirror of the 16 universal-hash minhash permutations over the
    * per-doc 60-bit shingle-hash list column `hs` — the same (a, b, p)
    * constants as Dedup.Perms, inlined as literals.
    */
  private[graft] val minhashSqls: Seq[String] = Dedup.Perms.map { case (a, b) =>
    s"list_min(list_transform(hs, h -> ($a * (h % ${Dedup.Prime}) + $b) % ${Dedup.Prime}))"
  }

  /** DuckDB mirror of Sketches.cmsBucket for the default depth-4,
    * width-4096 count-min sketch: one UNION ALL arm per hash row over a
    * CTE exposing the base hash as `h`; `extra` prefixes pass-through
    * columns ("token, n, ").
    */
  private[graft] def cmsArmsSql(src: String, extra: String): String =
    Dedup.Perms.take(4).zipWithIndex.map { case ((a, b), i) =>
      s"  SELECT $extra$i AS cms_row, " +
        s"(h % ${Dedup.Prime} * $a + $b) % ${Dedup.Prime} % 4096 AS cms_bucket FROM $src"
    }.mkString("\n  UNION ALL\n")

  /** Brute-force probe top-k oracle — shared by ann_topk and sql_topk
    * (identical result contract, different Spark entry paths).
    */
  private[graft] lazy val bruteTopkSql =
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, $cosSql AS cosine
       |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
       |  WHERE a.vec_id % 50 = 0 AND a.vec_id < ${50L * Similarity.MaxProbes}),
       |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank FROM pairs)
       |SELECT probe_id, rank, neighbor_id, cosine FROM r
       |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin

  /** DuckDB mirror of the per-probe cosine (double accumulation, index
    * order, floor-truncated 6dp) — matches graft.functions
    * .DotProduct.cosine wrapped in TextOps.trunc6.
    */
  private[graft] val cosSql =
    """floor((
      |  list_sum(list_transform(range(1, len(a.embedding) + 1),
      |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
      |  (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |    i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
      |   sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
      |    i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))) * 1000000) / 1000000""".stripMargin

  /** DuckDB mirror of Similarity's random-hyperplane LSH bucket: the same
    * integer-derived ±1 signs, the same per-plane sequential double sum.
    * `table` selects the independent hyperplane family (plane index
    * offset by table·LshBits), mirroring the Scala side's multi-table
    * form.
    */
  private[graft] def rpBucketSql(c: String, table: Int = 0): String =
    (0 until Similarity.LshBits).map { i =>
      val p = table * Similarity.LshBits + i
      s"""CASE WHEN list_sum(list_transform(range(1, 65),
         |  j -> $c[j]::DOUBLE * (CASE WHEN ((($p * 2654435761) + (j * 40503)) & 16) <> 0
         |    THEN 1.0 ELSE -1.0 END))) > 0 THEN ${1 << i} ELSE 0 END""".stripMargin
    }.mkString("(", " + ", ")")

  /** Quantize-then-dequantize CTE chain ending in `dq` — the oracle twin
    * of Similarity.quantizeEmbeddings + the q·scale reconstruction,
    * shared by `ann_topk_quantized` and `ann_topk_rerank`.
    */
  private[graft] val dequantCtes: String =
    """s AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
      |  FROM embeddings),
      |dq AS (SELECT vec_id,
      |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> CAST(0 AS FLOAT))
      |         ELSE list_transform(embedding,
      |                x -> CAST(CAST(floor(x::DOUBLE / scale + 0.5) AS INTEGER)::DOUBLE
      |                          * scale AS FLOAT)) END AS embedding
      |  FROM s)""".stripMargin

  /** Session-assignment CTE chain ending in `s` (events + session_no) —
    * Events.withSessions' oracle twin, shared by `sessionize` and
    * `session_funnel`.
    */
  private[graft] val sessionCtes: String =
    s"""o AS (SELECT user_id, ts, event_id, event_type, value,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events),
       |f AS (SELECT *, CASE WHEN prev_ts IS NULL
       |    OR epoch_us(ts) - epoch_us(prev_ts) > ${Events.SessionGapSeconds}000000
       |    THEN 1 ELSE 0 END AS is_new FROM o),
       |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
       |    AS session_no FROM f)""".stripMargin

  /** CTE chain mirroring ZOrder.zValue's shift-and-mask spread ladder:
    * z0 holds the two 32-bit keys, each z_i applies one
    * `ZOrder.SpreadSteps` step to both, z_last's (a, b) interleave with
    * `a | (b << 1)` — the same integer ops, literal-for-literal.
    */
  private[graft] val zorderCtes: String = {
    val z0 = "z0 AS (SELECT l_orderkey, l_linenumber, " +
      "l_partkey::BIGINT & 4294967295 AS a, " +
      "l_suppkey::BIGINT & 4294967295 AS b FROM lineitem)"
    val steps = ZOrder.SpreadSteps.zipWithIndex.map { case ((mask, sh), i) =>
      s"z${i + 1} AS (SELECT l_orderkey, l_linenumber, " +
        s"(a | (a << $sh)) & $mask AS a, (b | (b << $sh)) & $mask AS b FROM z$i)"
    }
    (z0 +: steps).mkString(",\n")
  }

  /** Shared centroid-sum CTEs `cx` (per-(label, dim) components) and
    * `cs` (exact DECIMAL(30,10) sums + counts) — the oracle twin of
    * Similarity.labelCentroids' aggregation.
    */
  private[graft] val centroidSumCtes: String =
    s"""cx AS (SELECT label, i - 1 AS dim, embedding[i]::DOUBLE AS x
       |       FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
       |cs AS (SELECT label, dim, sum(x::DECIMAL(30,10)) AS sx, count(*) AS n_vecs
       |       FROM cx GROUP BY 1, 2)""".stripMargin

  /** [[centroidSumCtes]] plus the assembled per-label float centroid
    * `cent($labelAs, cen)` — Similarity.centroidTable's twin.
    */
  private[graft] def centroidCtes(labelAs: String): String =
    s"""$centroidSumCtes,
       |cent AS (SELECT label AS $labelAs,
       |    list((floor(sx::DOUBLE / n_vecs * 1000000) / 1000000)::FLOAT ORDER BY dim)
       |      AS cen
       |  FROM cs GROUP BY label)""".stripMargin

  /** Truncated cosine between `e.embedding` and the centroid list `cen`
    * (index order, float→double casts — DotProduct.cosine's arithmetic).
    */
  private[graft] val cosCenSql: String =
    """floor(
      |    list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> e.embedding[i]::DOUBLE * cen[i]::DOUBLE)) /
      |    (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) *
      |     sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> cen[i]::DOUBLE * cen[i]::DOUBLE))))
      |    * 1000000) / 1000000""".stripMargin

  /** The scaled-cells seed expression — oracle twin of
    * Similarity.kmeansCellsByOccupancy's in-plan `vec_id mod
    * max(n/occupancy, 1)` seeding (the corpus count unrolls to a scalar
    * subquery, deterministic like every other seed).
    */
  private[graft] def scaledSeedSql(occupancy: Int): String =
    s"CAST(vec_id % (SELECT greatest(count(*) // $occupancy, 1) FROM embeddings) AS INTEGER)"

  /** Floored-6dp cosine between two DuckDB list columns `a` and `b` —
    * the [[cosSql]]/[[cosCenSql]] kernel generalized to arbitrary
    * column references (float→double per element, sequential fold).
    */
  private[graft] def cosListsSql(a: String, b: String): String =
    s"""floor(
       |  list_sum(list_transform(range(1, len($a) + 1),
       |    i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) /
       |  (sqrt(list_sum(list_transform(range(1, len($a) + 1),
       |    i -> $a[i]::DOUBLE * $a[i]::DOUBLE))) *
       |   sqrt(list_sum(list_transform(range(1, len($a) + 1),
       |    i -> $b[i]::DOUBLE * $b[i]::DOUBLE))))
       |  * 1000000) / 1000000""".stripMargin

  /** Per-cell exact-decimal centroid CTE block over an assignment CTE
    * `$asg(vec_id, cell)`: emits `cx$i`, `cs$i`, `cent$i(c_cell, cen)` —
    * one [[kmeansCtes]] centroid step, factored out so the coarse chain
    * and the store-replay oracle can derive centroids from ANY round's
    * assignment.
    */
  private def centroidStepCtes(i: Int, asg: String): String =
    s"""cx$i AS (SELECT a.cell, i - 1 AS dim, e.embedding[i]::DOUBLE AS x
       |  FROM embeddings e JOIN $asg a USING (vec_id),
       |       unnest(range(1, len(e.embedding) + 1)) AS u(i)),
       |cs$i AS (SELECT cell, dim, sum(x::DECIMAL(30,10)) AS sx, count(*) AS n_vecs
       |  FROM cx$i GROUP BY 1, 2),
       |cent$i AS (SELECT cell AS c_cell,
       |    list((floor(sx::DOUBLE / n_vecs * 1000000) / 1000000)::FLOAT ORDER BY dim)
       |      AS cen
       |  FROM cs$i GROUP BY cell)""".stripMargin

  /** Unrolled TWO-LEVEL (coarse-routed) k-means CTE chain — the oracle
    * twin of Similarity.kmeansCellsByOccupancyCoarse at the declared
    * build setting (coarseProbes = 1, coarseRounds = 1), step for step:
    * per round, centroids of the current assignment (cent$r — the
    * [[kmeansCtes]] step); g = ceil(sqrt(|cent$r|)) coarse groups seeded
    * `c_cell mod g`; ONE centroid-scale mini-Lloyd round regroups the
    * fine centroids (floored cosine argmax, smaller-group tie-break);
    * every vector routes to its top-`coarseProbes` coarse groups by the
    * same floored-cosine ordering; the fine argmax then ranks ONLY the
    * routed groups' cells. Ends in `a$rounds(vec_id, cell)`.
    *
    * With `finalCentroids` the chain additionally emits
    * `cent${rounds + 1}` — the centroid table OF the final assignment,
    * i.e. Similarity.trainedCentroids(emb, a$rounds), which the
    * store-replay oracle probes.
    */
  private[graft] def kmeansCoarseCtes(rounds: Int, seedSql: String = "label",
      coarseProbes: Int = 1, finalCentroids: Boolean = false): String = {
    val steps = (1 to rounds).map { r =>
      s"""${centroidStepCtes(r, s"a${r - 1}")},
         |gs$r AS (SELECT c_cell, cen,
         |    CAST(c_cell % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
         |                   FROM cent$r) AS INTEGER) AS gcell
         |  FROM cent$r),
         |gx$r AS (SELECT gcell, i - 1 AS dim, cen[i]::DOUBLE AS x
         |  FROM gs$r, unnest(range(1, len(cen) + 1)) AS u(i)),
         |gc$r AS (SELECT gcell, dim, sum(x::DECIMAL(30,10)) AS sx, count(*) AS n_vecs
         |  FROM gx$r GROUP BY 1, 2),
         |gcent$r AS (SELECT gcell AS g_cell,
         |    list((floor(sx::DOUBLE / n_vecs * 1000000) / 1000000)::FLOAT ORDER BY dim)
         |      AS gcen
         |  FROM gc$r GROUP BY gcell),
         |grp$r AS (SELECT c_cell, g_cell FROM (
         |    SELECT c.c_cell, g.g_cell,
         |      row_number() OVER (PARTITION BY c.c_cell
         |        ORDER BY ${cosListsSql("c.cen", "g.gcen")} DESC, g.g_cell) AS rn
         |    FROM cent$r c CROSS JOIN gcent$r g) WHERE rn = 1),
         |fx$r AS (SELECT g.g_cell, i - 1 AS dim, c.cen[i]::DOUBLE AS x
         |  FROM cent$r c JOIN grp$r g USING (c_cell),
         |       unnest(range(1, len(c.cen) + 1)) AS u(i)),
         |fc$r AS (SELECT g_cell, dim, sum(x::DECIMAL(30,10)) AS sx, count(*) AS n_vecs
         |  FROM fx$r GROUP BY 1, 2),
         |fcent$r AS (SELECT g_cell,
         |    list((floor(sx::DOUBLE / n_vecs * 1000000) / 1000000)::FLOAT ORDER BY dim)
         |      AS gcen
         |  FROM fc$r GROUP BY g_cell),
         |rt$r AS (SELECT vec_id, g_cell FROM (
         |    SELECT e.vec_id, f.g_cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosListsSql("e.embedding", "f.gcen")} DESC, f.g_cell) AS rn
         |    FROM embeddings e CROSS JOIN fcent$r f) WHERE rn <= $coarseProbes),
         |p$r AS (SELECT e.vec_id, c.c_cell,
         |    ${cosListsSql("e.embedding", "c.cen")} AS cos
         |  FROM embeddings e
         |  JOIN rt$r t USING (vec_id)
         |  JOIN grp$r g ON g.g_cell = t.g_cell
         |  JOIN cent$r c ON c.c_cell = g.c_cell),
         |a$r AS (SELECT vec_id, c_cell AS cell FROM (
         |    SELECT vec_id, c_cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_cell) AS rn
         |    FROM p$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val tail =
      if (finalCentroids) s",\n${centroidStepCtes(rounds + 1, s"a$rounds")}"
      else ""
    s"""a0 AS (SELECT vec_id, $seedSql AS cell FROM embeddings),
       |$steps$tail""".stripMargin
  }

  /** Unrolled k-means CTE chain — the oracle twin of
    * Similarity.kmeansCells: assignment a0 is `seedSql` (default: the
    * stored label — the fixture seeding; [[scaledSeedSql]] mirrors the
    * occupancy-scaled seeding); each
    * round r derives exact-decimal centroids from a(r−1) (grouped by the
    * CURRENT cell, unlike centroidCtes' static label) and reassigns every
    * vector by argmax cosine with the smaller-cell tie-break. Ends in
    * `a$rounds(vec_id, cell)`.
    */
  private[graft] def kmeansCtes(rounds: Int, seedSql: String = "label"): String = {
    val steps = (1 to rounds).map { r =>
      s"""cx$r AS (SELECT a.cell, i - 1 AS dim, e.embedding[i]::DOUBLE AS x
         |  FROM embeddings e JOIN a${r - 1} a USING (vec_id),
         |       unnest(range(1, len(e.embedding) + 1)) AS u(i)),
         |cs$r AS (SELECT cell, dim, sum(x::DECIMAL(30,10)) AS sx, count(*) AS n_vecs
         |  FROM cx$r GROUP BY 1, 2),
         |cent$r AS (SELECT cell AS c_cell,
         |    list((floor(sx::DOUBLE / n_vecs * 1000000) / 1000000)::FLOAT ORDER BY dim)
         |      AS cen
         |  FROM cs$r GROUP BY cell),
         |p$r AS (SELECT e.vec_id, c_cell, $cosCenSql AS cos
         |  FROM embeddings e CROSS JOIN cent$r),
         |a$r AS (SELECT vec_id, c_cell AS cell FROM (
         |    SELECT vec_id, c_cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_cell) AS rn
         |    FROM p$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""a0 AS (SELECT vec_id, $seedSql AS cell FROM embeddings),
       |$steps""".stripMargin
  }

  /** Shared CTE base for MinHash oracles — tokenize → shingle → 60-bit
    * hash sets (`hh`) → 16 signatures (`sg`) → exploded band table (`bd`).
    * Signatures are per-document functions, so one `bd` over the whole
    * corpus serves both the full-corpus pairing and the incremental
    * (existing/incoming split) pairing.
    */
  private[graft] def minhashBaseCtes(src: String = "documents"): String = {
    val rows = Dedup.SigCount / Dedup.BandCount
    val sigList = minhashSqls.zipWithIndex
      .map { case (m, i) => s"$m AS sig$i" }.mkString(",\n  ")
    // Band key: the band's `rows` sigs packed into one BIGINT
    // (sig < p, so sig0·p + sig1 < 2⁶² — mirrors Dedup.minhashBands).
    val bandList = (0 until Dedup.BandCount).map { j =>
      (0 until rows).map(r => s"sig${j * rows + r}")
        .reduce((acc, s) => s"($acc * ${Dedup.Prime} + $s)")
    }.mkString("[", ", ", "]")
    s"""tok AS (SELECT doc_id, $toksSql AS t FROM $src),
       |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM tok WHERE len(t) > 0),
       |hh AS (SELECT doc_id,
       |         list_sort(list_distinct(list_transform(shingles,
       |           s -> ${hash60Sql("s")}))) AS hs
       |       FROM sh WHERE len(shingles) > 0),
       |sg AS (SELECT doc_id, hs,
       |  $sigList
       |FROM hh),
       |bd AS (SELECT doc_id, unnest(range(0, ${Dedup.BandCount})) AS band_idx,
       |              unnest($bandList) AS band_val FROM sg)""".stripMargin
  }

  /** Exact-Jaccard verification of a candidate-pair CTE `cand(a_id, b_id)`
    * against the `hh` shingle-hash sets, emitting `$out(a_id, b_id,
    * jaccard ≥ 0.5)`.
    */
  private[graft] def verifiedPairsCte(out: String, aId: String, bId: String): String =
    s"""$out AS (SELECT $aId, $bId,
       |  floor(len(list_intersect(sa.hs, sb.hs))::DOUBLE
       |    / len(list_distinct(sa.hs || sb.hs)) * 1000000) / 1000000 AS jaccard
       |FROM cand
       |JOIN hh sa ON sa.doc_id = $aId
       |JOIN hh sb ON sb.doc_id = $bId
       |WHERE jaccard >= 0.5)""".stripMargin

  /** The declared pair family's band-bucket occupancy cap (r14): every
    * declared query riding the 2-row-band candidate channel passes this
    * to the capped band-channel APIs of [[Dedup]], and the oracle twins
    * mirror it through [[cappedBandCte]]. 64 = the probe_near_dups /
    * containment_stratified precedent (r13: 225.8 → 74.1 s at sf10 with
    * identical output); the cap's recall adjudication for the pair
    * channel itself is recorded in BASELINE.md r14.
    */
  private[graft] val BandCap = 64

  /** Occupancy-capped band table `bdc` — the oracle twin of
    * [[Dedup.bandedCandidates]]'s hot-bucket census: buckets holding
    * more than `cap` documents are skipped; `cap ≤ 0` passes `bd`
    * through unchanged.
    */
  private[graft] def cappedBandCte(cap: Int): String =
    if (cap <= 0) "bdc AS (SELECT * FROM bd)"
    else
      s"""bdc AS (SELECT bd.* FROM bd
         |        JOIN (SELECT band_idx, band_val FROM bd
         |              GROUP BY 1, 2 HAVING count(*) <= $cap) occ
         |          USING (band_idx, band_val))""".stripMargin

  /** Full-corpus verified MinHash pair chain ending in
    * `vp(doc_a, doc_b, jaccard)` — `near_dup_minhash` selects from it
    * directly; `dup_groups` appends the recursive connected-components
    * CTEs on top. Candidates come from the occupancy-capped band table
    * (`maxBandOccupancy`, default [[BandCap]] — every declared consumer
    * of the pair family runs the capped channel; pass 0 for the
    * unbounded form).
    */
  private[graft] def minhashCtes(src: String = "documents",
      maxBandOccupancy: Int = BandCap): String =
    s"""${minhashBaseCtes(src)},
       |${cappedBandCte(maxBandOccupancy)},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bdc a JOIN bdc b
       |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |          AND a.doc_id < b.doc_id),
       |${verifiedPairsCte("vp", "doc_a", "doc_b")}""".stripMargin

  /** Connected-components CTEs over the `vp` verified-pair graph ending
    * in `lbl(doc_id, group_id)` — the recursive reachability closure
    * (UNION dedups, so it terminates) with min reachable id as label.
    * Shared by `dup_groups` and `corpus_manifest`.
    */
  private[graft] val dupGroupCtes: String =
    """e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
      |      UNION ALL SELECT doc_b, doc_a FROM vp),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
      |),
      |lbl AS (SELECT src AS doc_id, least(src, min(dst)) AS group_id
      |        FROM reach GROUP BY src)""".stripMargin

  /** Quality-filter CTE chain over `src` ending in `qf(doc_id, n_tokens,
    * avg_token_len, punct_ratio, stopword_ratio, dup_bigram_frac,
    * top_bigram_frac, reasons)` — shared by `quality_filter` and
    * `corpus_manifest`. Thresholds mirror Corpus.qualityFilter defaults.
    */
  private[graft] def qualityCtes(src: String): String =
    s"""qt AS (SELECT doc_id, text, $toksSql AS toks FROM $src),
       |qs AS (SELECT doc_id,
       |  len(toks) AS n_tokens,
       |  floor(list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) * 10000) / 10000
       |    AS avg_token_len,
       |  floor((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
       |    / greatest(length(text), 1) * 10000) / 10000 AS punct_ratio,
       |  floor(len(list_filter(toks, t -> t IN $stopEn))::DOUBLE / len(toks) * 10000) / 10000
       |    AS stopword_ratio
       |FROM qt),
       |qbi AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
       |         for i in range(1, greatest(len(toks), 1))]) AS s
       |       FROM qt WHERE len(toks) > 1),
       |qc AS (SELECT doc_id, s, count(*) AS c FROM qbi GROUP BY 1, 2),
       |qrep AS (SELECT doc_id,
       |  floor((sum(c) - count(*))::DOUBLE / sum(c) * 10000) / 10000 AS dup_bigram_frac,
       |  floor(max(c)::DOUBLE / sum(c) * 10000) / 10000 AS top_bigram_frac
       |FROM qc GROUP BY doc_id),
       |qj AS (SELECT qs.doc_id, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
       |  coalesce(dup_bigram_frac, 0) AS dup_bigram_frac,
       |  coalesce(top_bigram_frac, 0) AS top_bigram_frac
       |FROM qs LEFT JOIN qrep USING (doc_id)),
       |qf AS (SELECT *, concat_ws(',',
       |  CASE WHEN n_tokens < 20 THEN 'too_short' END,
       |  CASE WHEN n_tokens > 100000 THEN 'too_long' END,
       |  CASE WHEN avg_token_len < 2.0 OR avg_token_len > 10.0 THEN 'token_len' END,
       |  CASE WHEN punct_ratio > 0.3 THEN 'punct' END,
       |  CASE WHEN stopword_ratio = 0 THEN 'no_stopword' END,
       |  CASE WHEN dup_bigram_frac > 0.2 THEN 'dup_bigram' END,
       |  CASE WHEN top_bigram_frac > 0.2 THEN 'top_bigram' END) AS reasons FROM qj)""".stripMargin

  // queries ----------------------------------------------------------------

  /** The declared extension queries — per-family registries composed
    * into one map (split r12 for maintainability; entries and plans
    * unchanged).
    */
  def queries: Map[String, Q] =
    QueriesText.entries ++
      QueriesDedup.entries ++
      QueriesEvents.entries ++
      QueriesRetail.entries ++
      QueriesSketches.entries ++
      QueriesAnn.entries

  /** Cast int-typed count/rank columns to long so Spark schemas match
    * DuckDB's BIGINT len()/count()/row_number() outputs.
    */
  private[graft] def castLongs(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))

  /** Deterministic PII planting for the privacy queries: the synthetic
    * documents are lowercase word soup with NO pii, so the declared
    * queries append one instance per class on a doc_id residue — in-plan,
    * mirrored verbatim by [[plantPiiSql]] — giving the scrub a
    * non-trivial hash-checkable workload on driver data (doc_id 0 carries
    * all four classes at once).
    */
  private[graft] def plantPii(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 5 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, concat(lit(" call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-0199")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, concat(lit(" ssn 123-45-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0, concat(lit(" host 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".25")))
        .otherwise(lit(""))))

  /** DuckDB mirror of [[plantPii]]. Embedded in oracle strings that call
    * `.stripMargin` AGAIN, so no rendered line may start with `|` — keep
    * every `||` at end-of-line.
    */
  private[graft] val plantPiiSql =
    """text ||
      |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id::VARCHAR ||
      |    '@mail.example.com' ELSE '' END ||
      |  CASE WHEN doc_id % 7 = 0 THEN ' call 555-' ||
      |    lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-0199' ELSE '' END ||
      |  CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-' ||
      |    lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
      |  CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.' ||
      |    (doc_id % 256)::VARCHAR || '.25' ELSE '' END""".stripMargin

  /** The [[Privacy.Patterns]] regex for a class — interpolated into the
    * oracle SQL so both engines compile the identical pattern.
    */
  private[graft] def piiRe(name: String): String =
    Privacy.Patterns.find(_._1 == name).get._2

  // oracles ----------------------------------------------------------------

  /** The ingest-replay twins assert fold ≡ one-shot, so their oracles
    * ARE the one-shot queries' oracles — shared by reference, not
    * duplicated SQL (drift between the pair would silently weaken the
    * replay check).
    */
  def replayOracles: Map[String, String] = Map(
    "kmv_ingest_replay" -> oracleSql("kmv_distinct"),
    "cms_ingest_replay" -> oracleSql("cms_freq"),
    "convert_ingest_replay" -> oracleSql("time_to_convert"),
    "lsh_ingest_replay" -> oracleSql("ann_topk_lsh"),
    "quantize_ingest_replay" -> oracleSql("ann_topk_quantized"),
    "semdedup_ingest_replay" -> oracleSql("semantic_dedup_scaled"),
    "quantile_ingest_replay" -> oracleSql("hist_quantiles"),
    // The span store has no standalone one-shot query (dup_spans reads
    // the per-doc projection), so its replay oracle is the one-shot
    // shared-span census over the same k-shingle derivation.
    "span_ingest_replay" -> {
      val k = Corpus.DecontamShingle
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, toks FROM t WHERE len(toks) >= $k),
         |shg AS (SELECT DISTINCT doc_id,
         |          ${hash60Sql(s"array_to_string(toks[i:i+${k - 1}], ' ')")} AS h
         |        FROM p, unnest(range(1, len(toks) - ${k - 2})) AS u(i))
         |SELECT h, count(*) AS n_docs FROM shg GROUP BY h
         |HAVING count(*) >= 2 ORDER BY h""".stripMargin
    })

  /** Every declared query's DuckDB oracle — the per-family `oracles`
    * maps composed back into the driver contract.
    */
  def oracleSql: Map[String, String] =
    QueriesText.oracles ++
      QueriesDedup.oracles ++
      QueriesEvents.oracles ++
      QueriesRetail.oracles ++
      QueriesSketches.oracles ++
      QueriesAnn.oracles
}

