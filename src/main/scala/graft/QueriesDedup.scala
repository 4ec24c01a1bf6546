package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{AsOfJoin, BloomJoin, Corpus, Dedup, Events, Hierarchy, Multimodal, Privacy, RangeJoin, Retail, SaltedJoin, Similarity, Sketches, Stats, StockSim, TextOps}
import graft.etl.ZOrder

/** X1/X4 deduplication: exact, MinHash, SimHash,
  * prefix-filtered n-gram Jaccard, containment, incremental folds,
  * group/retention actions, store probes.
  *
  * Registry object: entry/oracle blocks moved verbatim from the
  * pre-r12 ExtQueries monolith (plans unchanged); ExtQueries
  * composes every family back into the driver-contract maps and
  * still owns the shared session stores and SQL fragments.
  */
private[graft] object QueriesDedup {
  import ExtQueries._

  def entries: Map[String, Q] = Map[String, Q](
    // X1 — exact dedup by content hash, deterministic survivor.
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir)).orderBy("doc_id")),

    // X4 — MinHash + LSH banded near-dup, verified Jaccard ≥ 0.5.
    // The whole minhash family probes ONE session-scoped signature
    // store (hashedShingleRows — the per-doc pure function computed at
    // ingest and persisted at scale; minhashBands scaladoc): the first
    // family query pays the tokenize+shingle+hash scan, the rest (and
    // every later bench pass) measure band-join + verification, the
    // steady-state cost of the store-backed plan. Same discipline as
    // the ANN/KMV stores above; results are store-warmth invariant.
    // The candidate channel runs under the band-bucket occupancy cap
    // (≤ BandCap docs per (band_idx, band_val) bucket; oracle mirrors
    // it): saturated buckets are shared-background collisions on a
    // dense corpus — pure noise candidates whose Σocc² cost measured
    // 14×/decade uncapped at sf10 (r13) — while a true pair at J ≥ 0.5
    // collides in ~4 independent bands, so it is lost only if ALL of
    // them saturate. Recall delta adjudicated in BASELINE.md r14.
    "near_dup_minhash" -> ((s, dir) =>
      Dedup.nearDupMinhashFromHashes(minhashStore(s, dir),
        bands = Some(minhashBandsStore(s, dir)),
        sets = Some(shingleSetsStore(s, dir)),
        maxBandOccupancy = BandCap)
        .orderBy("doc_a", "doc_b")),

    // X4 — SimHash banded near-dup, Hamming ≤ 3; probes the simhash
    // chunk half of the session signature store.
    "near_dup_simhash" -> ((s, dir) => {
      // The fingerprint table (4 ints per doc — the majority vote
      // collapsed at ingest) is the persisted artifact; the probe is
      // the banded self-join + Hamming verify only (r17).
      val chunks = store(s, dir, "simhash_chunks")(
        Dedup.simhashChunks(Tables.documents(s, dir)))
      castLongs(Dedup.nearDupSimhashFromChunks(chunks,
        fingerprints = Some(store(s, dir, "simhash_fp")(
          Dedup.simhashFingerprints(chunks)))), "hamming")
        .orderBy("doc_a", "doc_b")
    }),

    // X4 — char-5-gram Jaccard ≥ 0.8 within lang; probes the char-gram
    // half of the session signature store. 5-grams, not 3: the 3-gram
    // universe (≤ 37³) saturates past ~10⁵ docs (83×/decade at sf10,
    // r12) — see Dedup.GramLen. Candidates come from the 16×6 minhash
    // banding over the gram sets (Dedup.ngramJaccardBanded — the
    // similarity-bounded plan; ≈99.2% recall at the threshold,
    // mirrored exactly by the oracle), verification stays the exact
    // sorted-merge.
    "ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardBanded(chargramSetsStore(s, dir),
        bands = Some(chargramBandsStore(s, dir)))
        .orderBy("doc_a", "doc_b")),

    // X4 — containment near-dup: |A∩B| / min(|A|,|B|) ≥ 0.8 over the
    // same banded candidates (partial-copy detection).
    // Runs under the same band-occupancy cap as near_dup_minhash (the
    // two queries share the candidate channel).
    "containment_near_dup" -> ((s, dir) =>
      Dedup.containmentNearDupFromHashes(minhashStore(s, dir),
        bands = Some(minhashBandsStore(s, dir)),
        sets = Some(shingleSetsStore(s, dir)),
        maxBandOccupancy = BandCap)
        .orderBy("doc_a", "doc_b")),

    // X4 — size-stratified containment: the banded channel plus a
    // 1-row-band channel gated to skewed-size pairs (LSH-Ensemble
    // lite). The skew channel runs under the sig-bucket occupancy cap
    // (≤ 64 docs per (sig_idx, sig_val) bucket — the probe_near_dups
    // hot-band trade; oracle mirrors it): saturated min-shingle
    // buckets are pure noise candidates on a dense corpus, measured
    // 225.8 → 74.1 s at sf10 with IDENTICAL output (BASELINE.md r13).
    "containment_stratified" -> ((s, dir) =>
      Dedup.containmentNearDupStratifiedFromHashes(minhashStore(s, dir),
        bands = Some(minhashBandsStore(s, dir)),
        sigRows = Some(minhashSigRowsStore(s, dir)),
        sets = Some(shingleSetsStore(s, dir)), maxSigOccupancy = 64,
        maxBandOccupancy = BandCap)
        .orderBy("doc_a", "doc_b")),

    // X4 DQ (r17) — dedup BUCKET census: the signature-bucket space of
    // the skewed-containment channel classified into the three classes
    // the r17 pruning story runs on — `saturated` (occ > 64: skipped
    // by the hot-bucket cap, the documented recall trade), and of the
    // rest `ratio_incapable` (max n ≤ min n · ratioCut: EXACT skip,
    // zero recall trade — VERDICT r15 #6) vs `live` (pays occ² pairs).
    // Per class: bucket count, row mass, Σ occ² (the candidate-volume
    // driver) and max occupancy. THE capacity-planning read before a
    // dedup run at a new corpus scale: r17 computed exactly this
    // census ad hoc to attribute the sf100 residual (1.36M live
    // buckets, Σ occ² 667M; BASELINE.md r17 stage 4); now it is
    // declared and oracle-checked. One aggregate over the sig-row
    // store — the same single exchange the skew channel itself
    // shuffles on.
    "dedup_bucket_census" -> ((s, dir) => {
      val sized = minhashSigRowsStore(s, dir)
      sized.groupBy("sig_idx", "sig_val")
        .agg(count(lit(1)).as("occ"),
          min(col("n")).as("nlo"), max(col("n")).as("nhi"))
        .withColumn("bucket_class",
          when(col("occ") > 64, "saturated")
            .when(col("nhi") <= col("nlo") * 2.0, "ratio_incapable")
            .otherwise("live"))
        .groupBy("bucket_class")
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("occ")).as("n_rows"),
          sum(col("occ") * col("occ")).as("sum_occ2"),
          max(col("occ")).as("max_occ"))
        .orderBy("bucket_class")
    }),

    // X1/X4 — duplicate groups: connected components over the verified
    // MinHash pair graph (iterative min-label propagation).
    "dup_groups" -> ((s, dir) =>
      dupGroupsStore(s, dir).orderBy("doc_id")),

    // X4 — the dedup ACTION: per-doc retention decision (canonical
    // survivor per near-dup component, singletons kept).
    "near_dup_retain" -> ((s, dir) =>
      Dedup.nearDupRetainFromLabels(
        Tables.documents(s, dir), dupGroupsStore(s, dir)).orderBy("doc_id")),

    // X4 — cross-source overlap audit: near-dup pair mass rolled up by
    // unordered source pair (dataset-mixing diagnostic).
    "source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlapFromHashes(
        Tables.documents(s, dir), minhashStore(s, dir),
        bands = Some(minhashBandsStore(s, dir)),
        sets = Some(shingleSetsStore(s, dir)),
        maxBandOccupancy = BandCap)
        .orderBy("source_a", "source_b")),

    // Corpus — repeated-span detection (word-8-gram approximation of
    // exact substring dedup): share of each doc's distinct spans that
    // recur in other documents.
    "dup_spans" -> ((s, dir) =>
      castLongs(Corpus.duplicatedSpansFromHashes(k8ShingleStore(s, dir)),
        "n_spans", "n_shared_spans").orderBy("doc_id")),

    // X4 — incremental dedup: the 20% "incoming batch" (doc_id % 10 ≥ 8)
    // deduped against the 80% "existing corpus" signature store and
    // within itself — never existing × existing.
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // The existing 80% contributes bands + sets DERIVED FROM the
      // session signature store (hr is a per-doc pure function, so
      // store-filtered ≡ recomputed-from-docs; CorpusPrepSpec's parquet
      // round trip); only the incoming 20% tokenizes in-query — the
      // at-scale contract of nearDupAgainstStore.
      // Band-occupancy cap over the unioned (store + batch) band table
      // — the family-wide r14 trade; census ≡ full-corpus bd, mirrored
      // by the oracle's bdc gate. Both existing-side halves are
      // store-FILTERED slices (bands by residue, sets by residue):
      // per-doc pure functions, so the slice ≡ recomputed-from-docs
      // (CorpusPrepSpec's parquet round trip) — no per-probe
      // collect_set over the 80% corpus.
      Dedup.nearDupAgainstStore(
        minhashBandsStore(s, dir).where(pmod(col("doc_id"), lit(10)) < 8),
        shingleSetsStore(s, dir).where(pmod(col("doc_id"), lit(10)) < 8),
        docs.where(pmod(col("doc_id"), lit(10)) >= 8),
        maxBandOccupancy = BandCap)
        .orderBy("doc_new", "doc_match")
    }),

    // X4 DQ — near-dup rate per corpus source: which feed pollutes the
    // pool. Documents left-join the component labels (only docs WITH
    // near-dups carry one); the per-source census reports the exact-ppm
    // dup share. Shares the signature store.
    "dup_rate_by_source" -> ((s, dir) => {
      val groups = dupGroupsStore(s, dir)
      Tables.documents(s, dir).select("doc_id", "source")
        .join(groups.select("doc_id", "group_id"), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("group_id").isNotNull, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_ppm", expr("CAST(n_dup * 1000000 DIV n_docs AS BIGINT)"))
        .orderBy("source")
    }),

    // X4 — near-dup component SIZE histogram: the dedup-health summary
    // over the dup_groups labels (how much of the duplication is pairs
    // vs large clusters); two bounded aggregates past the shared
    // pipeline.
    "dup_size_hist" -> ((s, dir) =>
      dupGroupsStore(s, dir)
        .groupBy("group_id").agg(count(lit(1)).as("group_size"))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size")),

    // X4 — point-lookup near-dup search: every third doc probes the
    // signature store for its matches (see Dedup.nearDupLookup — the
    // pruned-index read path, never a corpus scan). Band buckets with
    // > 64 docs are skipped (the hot-band bound: per-probe cost stays
    // flat at any corpus size; recall note in the scaladoc), mirrored
    // exactly by the oracle's occupancy gate.
    "probe_near_dups" -> ((s, dir) =>
      Dedup.nearDupLookup(minhashBandsStore(s, dir), minhashStore(s, dir),
          pmod(col("doc_id"), lit(3)) === 0, maxBandOccupancy = BandCap,
          storeSets = Some(shingleSetsStore(s, dir)))
        .orderBy("probe_id", "match_id")),

    // Corpus — RefinedWeb-style boilerplate line removal.
    "line_dedup" -> ((s, dir) =>
      Corpus.lineDedup(Tables.documents(s, dir)).orderBy("doc_id")),
  )

  def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""WITH k AS (SELECT doc_id, md5($normSql) AS content_key FROM documents),
         |r AS (SELECT doc_id, content_key,
         |        row_number() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn,
         |        count(*) OVER (PARTITION BY content_key) AS group_size
         |      FROM k)
         |SELECT doc_id, content_key, group_size FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "near_dup_minhash" ->
      s"""WITH ${minhashCtes()}
         |SELECT doc_a, doc_b, jaccard FROM vp
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Same banded candidates as near_dup_minhash (occupancy-capped),
    // containment-verified.
    "containment_near_dup" ->
      s"""WITH ${minhashBaseCtes()},
         |${cappedBandCte(BandCap)},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bdc a JOIN bdc b
         |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |          AND a.doc_id < b.doc_id),
         |vc AS (SELECT doc_a, doc_b,
         |  floor(len(list_intersect(sa.hs, sb.hs))::DOUBLE
         |    / least(len(sa.hs), len(sb.hs)) * 1000000) / 1000000 AS containment
         |FROM cand
         |JOIN hh sa ON sa.doc_id = doc_a
         |JOIN hh sb ON sb.doc_id = doc_b
         |WHERE containment >= 0.8)
         |SELECT doc_a, doc_b, containment FROM vc
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Banded channel + skewed-size channel (size ratio > 2, ≥ 2 matching
    // signatures), unioned, containment-verified —
    // Dedup.containmentNearDupStratified.
    "containment_stratified" -> {
      val sigList = (0 until Dedup.SigCount).map(i => s"sig$i").mkString("[", ", ", "]")
      s"""WITH ${minhashBaseCtes()},
         |sz AS (SELECT doc_id, len(hs) AS n FROM hh),
         |sb0 AS (SELECT doc_id, unnest(range(0, ${Dedup.SigCount})) AS si,
         |              unnest($sigList) AS sv FROM sg),
         |sb AS (SELECT sb0.* FROM sb0
         |       JOIN (SELECT si, sv FROM sb0 GROUP BY 1, 2
         |             HAVING count(*) <= 64) occ USING (si, sv)),
         |${cappedBandCte(BandCap)},
         |cb AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM bdc a JOIN bdc b
         |         ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |        AND a.doc_id < b.doc_id),
         |c1 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM sb a JOIN sb b ON a.si = b.si AND a.sv = b.sv
         |        AND a.doc_id < b.doc_id
         |       JOIN sz za ON za.doc_id = a.doc_id
         |       JOIN sz zb ON zb.doc_id = b.doc_id
         |       WHERE za.n > zb.n * 2.0 OR zb.n > za.n * 2.0
         |       GROUP BY 1, 2 HAVING count(*) >= 2),
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM
         |         (SELECT * FROM cb UNION ALL SELECT * FROM c1)),
         |vc AS (SELECT doc_a, doc_b,
         |  floor(len(list_intersect(sa.hs, sb.hs))::DOUBLE
         |    / least(len(sa.hs), len(sb.hs)) * 1000000) / 1000000 AS containment
         |FROM cand
         |JOIN hh sa ON sa.doc_id = doc_a
         |JOIN hh sb ON sb.doc_id = doc_b
         |WHERE containment >= 0.8)
         |SELECT doc_a, doc_b, containment FROM vc
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    // Signature-bucket census over the same sig/size base as the
    // stratified channel; class predicates literal-for-literal.
    "dedup_bucket_census" -> {
      val sigList = (0 until Dedup.SigCount).map(i => s"sig$i").mkString("[", ", ", "]")
      s"""WITH ${minhashBaseCtes()},
         |sb0 AS (SELECT doc_id, len(hs) AS n,
         |              unnest(range(0, ${Dedup.SigCount})) AS si,
         |              unnest($sigList) AS sv FROM sg),
         |oc AS (SELECT si, sv, count(*) AS occ, min(n) AS nlo, max(n) AS nhi
         |       FROM sb0 GROUP BY 1, 2),
         |cl AS (SELECT CASE WHEN occ > 64 THEN 'saturated'
         |              WHEN nhi <= nlo * 2.0 THEN 'ratio_incapable'
         |              ELSE 'live' END AS bucket_class, occ FROM oc)
         |SELECT bucket_class, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(occ) AS BIGINT) AS n_rows,
         |  CAST(sum(occ * occ) AS BIGINT) AS sum_occ2,
         |  CAST(max(occ) AS BIGINT) AS max_occ
         |FROM cl GROUP BY 1 ORDER BY bucket_class""".stripMargin
    },

    // Connected components over the vp pair graph ([[dupGroupCtes]]).
    "dup_groups" ->
      s"""WITH RECURSIVE ${minhashCtes()},
         |$dupGroupCtes
         |SELECT doc_id, group_id,
         |  count(*) OVER (PARTITION BY group_id) AS group_size
         |FROM lbl ORDER BY doc_id""".stripMargin,

    // Retention decision: corpus left-joined to the component labels;
    // kept = the doc IS its component's minimum id (singletons label
    // themselves).
    "near_dup_retain" ->
      s"""WITH RECURSIVE ${minhashCtes()},
         |$dupGroupCtes
         |SELECT d.doc_id,
         |  coalesce(l.group_id, d.doc_id) AS group_id,
         |  coalesce(l.group_id, d.doc_id) = d.doc_id AS kept
         |FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Near-dup pair mass by unordered source pair; integer-exact
    // micro-jaccard sum + integer-div mean (mirrors Dedup.sourceOverlap).
    "source_overlap" ->
      s"""WITH ${minhashCtes()},
         |ps AS (SELECT least(sa.source, sb.source) AS source_a,
         |              greatest(sa.source, sb.source) AS source_b,
         |              CAST(round(vp.jaccard * 1000000) AS BIGINT) AS j_micro
         |       FROM vp
         |       JOIN documents sa ON sa.doc_id = vp.doc_a
         |       JOIN documents sb ON sb.doc_id = vp.doc_b)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |  CAST(sum(j_micro) AS BIGINT) // count(*) AS avg_j_micro
         |FROM ps GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,

    // Distinct 8-token spans per doc; a span is shared when ≥ 2 docs
    // carry it (mirrors Corpus.duplicatedSpans).
    "dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, toks FROM t WHERE len(toks) >= ${Corpus.DecontamShingle}),
         |shg AS (SELECT DISTINCT doc_id,
         |          ${hash60Sql(s"array_to_string(toks[i:i+${Corpus.DecontamShingle - 1}], ' ')")} AS h
         |        FROM p, unnest(range(1, len(toks) - ${Corpus.DecontamShingle - 2})) AS u(i)),
         |nd AS (SELECT h, count(*) AS n_docs FROM shg GROUP BY h)
         |SELECT doc_id,
         |  count(*) AS n_spans,
         |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans,
         |  floor(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*) * 10000) / 10000 AS dup_span_frac
         |FROM shg JOIN nd USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Incoming batch (a-side) restricted to doc_id % 10 ≥ 8; matches are
    // existing docs (any id order) or earlier incoming docs — existing ×
    // existing pairs never form, mirroring Dedup.nearDupIncremental.
    "dedup_incremental" ->
      s"""WITH ${minhashBaseCtes()},
         |${cappedBandCte(BandCap)},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_match
         |         FROM bdc a JOIN bdc b
         |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |          AND a.doc_id % 10 >= 8 AND a.doc_id != b.doc_id
         |          AND (b.doc_id % 10 < 8 OR b.doc_id < a.doc_id)),
         |${verifiedPairsCte("vi", "doc_new", "doc_match")}
         |SELECT doc_new, doc_match, jaccard FROM vi
         |ORDER BY doc_new, doc_match""".stripMargin,

    "near_dup_simhash" -> {
      val bands = Dedup.SimhashBands
      val bits = Dedup.SimhashBits / bands
      val chunkDefs = (0 until bands)
        .map(j => s"('0x' || substr(m, ${j * 4 + 1}, 4))::INTEGER AS c$j").mkString(", ")
      val sums = (for (j <- 0 until bands; k <- 0 until bits)
        yield s"sum((c$j >> $k) & 1) AS s_${j}_$k").mkString(",\n  ")
      val bandDefs = (0 until bands).map { j =>
        (0 until bits)
          .map(k => s"(CASE WHEN 2 * s_${j}_$k > n THEN ${1 << k} ELSE 0 END)")
          .mkString(" + ") + s" AS band$j"
      }.mkString(",\n  ")
      val bandRefs = (0 until bands).map(j => s"band$j").mkString(", ")
      val abRefs = (0 until bands)
        .map(j => s"a.band$j AS a$j, b.band$j AS b$j").mkString(",\n                ")
      val ham = (0 until bands).map(j => s"bit_count(xor(a$j, b$j))").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM tok WHERE len(t) > 0),
         |hx AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
         |ch AS (SELECT DISTINCT doc_id, $chunkDefs
         |       FROM (SELECT doc_id, md5(s) AS m FROM hx)),
         |v AS (SELECT doc_id, count(*) AS n,
         |  $sums
         |FROM ch GROUP BY doc_id),
         |fp AS (SELECT doc_id,
         |  $bandDefs
         |FROM v),
         |bd AS (SELECT doc_id, $bandRefs,
         |       unnest(range(0, $bands)) AS band_idx,
         |       unnest([$bandRefs]) AS band_val FROM fp),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                $abRefs
         |         FROM bd a JOIN bd b
         |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |          AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST($ham AS BIGINT) AS hamming
         |FROM cand
         |WHERE hamming <= 6
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    // Banded char-5-gram Jaccard — mirrors Dedup.ngramJaccardBanded
    // EXACTLY: same positional base-256 BIGINT gram codes
    // (charGramSets), same 96 universal-hash signatures over the gram
    // codes, same md5-packed 16×6 band keys, same size-ratio residual,
    // same exact-intersection verification at >= 0.8.
    "ngram_jaccard" -> {
      val rows = Dedup.GramSigCount / Dedup.GramBandCount
      val sigDefs = Dedup.perms(Dedup.GramSigCount).zipWithIndex.map {
        case ((a, b), i) =>
          s"list_min(list_transform(grams, x -> ($a * (x % ${Dedup.Prime}) + $b) % ${Dedup.Prime})) AS sig$i"
      }.mkString(",\n  ")
      val bandList = (0 until Dedup.GramBandCount).map { j =>
        val cat = (0 until rows).map(r => s"sig${j * rows + r}::VARCHAR")
          .mkString(" || ',' || ")
        hash60Sql(cat)
      }.mkString("[", ", ", "]")
      s"""WITH n AS (SELECT doc_id, lang, $normSql AS s FROM documents),
         |g AS (SELECT doc_id, lang,
         |        list_distinct([ascii(s[i]) * 4294967296 + ascii(s[i+1]) * 16777216
         |          + ascii(s[i+2]) * 65536 + ascii(s[i+3]) * 256 + ascii(s[i+4])
         |          for i in range(1, greatest(len(s) - 3, 1))]) AS grams
         |      FROM n),
         |gg AS (SELECT * FROM g WHERE len(grams) > 0),
         |sg AS (SELECT doc_id, lang, len(grams) AS n, grams,
         |  $sigDefs
         |FROM gg),
         |bd AS (SELECT doc_id, lang, n,
         |       unnest(range(0, ${Dedup.GramBandCount})) AS band_idx,
         |       unnest($bandList) AS band_val FROM sg),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bd a JOIN bd b
         |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |          AND a.lang = b.lang AND a.doc_id < b.doc_id
         |          AND a.n >= 0.8 * b.n - 1e-9 AND b.n >= 0.8 * a.n - 1e-9)
         |SELECT doc_a, doc_b,
         |  floor(len(list_intersect(a.grams, b.grams))::DOUBLE
         |    / len(list_distinct(a.grams || b.grams)) * 1000000) / 1000000 AS jaccard
         |FROM cand
         |JOIN gg a ON a.doc_id = doc_a
         |JOIN gg b ON b.doc_id = doc_b
         |WHERE jaccard >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "dup_rate_by_source" -> {
      s"""WITH RECURSIVE ${minhashCtes()},
         |$dupGroupCtes
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN lbl.group_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup,
         |  CAST(CAST(sum(CASE WHEN lbl.group_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000 // count(*) AS BIGINT) AS dup_ppm
         |FROM documents d LEFT JOIN lbl ON d.doc_id = lbl.doc_id
         |GROUP BY 1 ORDER BY source""".stripMargin
    },

    "dup_size_hist" ->
      s"""WITH RECURSIVE ${minhashCtes()},
         |$dupGroupCtes,
         |g AS (SELECT group_id, count(*) AS group_size FROM lbl GROUP BY 1)
         |SELECT group_size, count(*) AS n_groups
         |FROM g GROUP BY 1 ORDER BY group_size""".stripMargin,

    // Probe-band × store-band candidates with the hot-band occupancy
    // gate (buckets ≤ 64 docs), verified at jaccard ≥ 0.5 — mirrors
    // Dedup.nearDupLookup including the cap; both directions emerge
    // from the a-side probe filter alone.
    "probe_near_dups" ->
      s"""WITH ${minhashBaseCtes()},
         |${cappedBandCte(BandCap)},
         |cand AS (SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS match_id
         |         FROM bdc a JOIN bdc b
         |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |          AND a.doc_id % 3 = 0 AND a.doc_id != b.doc_id),
         |${verifiedPairsCte("pl", "probe_id", "match_id")}
         |SELECT probe_id, match_id, jaccard
         |FROM pl ORDER BY probe_id, match_id""".stripMargin,

    "line_dedup" -> {
      val k = Corpus.LineTokens
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |l AS (SELECT doc_id, u.line_no,
         |    array_to_string(list_slice(toks, u.line_no * $k + 1,
         |      u.line_no * $k + $k), ' ') AS line
         |  FROM t, unnest(range(0, greatest((len(toks) + $k - 1) // $k, 1)))
         |    AS u(line_no)),
         |df AS (SELECT line, count(DISTINCT doc_id) AS line_df
         |  FROM l GROUP BY 1),
         |f AS (SELECT doc_id, line_no, line,
         |    line_df <= ${Corpus.LineMaxDocs} AS kept
         |  FROM l JOIN df USING (line))
         |SELECT doc_id,
         |  coalesce(string_agg(line, ' ' ORDER BY line_no)
         |    FILTER (WHERE kept), '') AS clean_text,
         |  count(*) AS n_lines,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
  )
}
