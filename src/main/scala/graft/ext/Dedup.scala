package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SortedIntersectSize

/** Deduplication operators over the `documents` table (SURVEY.md §2.11
  * X1/X4) — the dedup half of an LLM-training-data pipeline: exact
  * (content-hash), MinHash+LSH banding, SimHash, and blocked n-gram
  * Jaccard.
  *
  * Scale design (100 TB): none of these ever form the all-pairs cross
  * product. Candidate pairs come from equality joins on LSH band values /
  * SimHash bands / blocking keys — a shuffle whose size is bounded by
  * bucket occupancy — and only candidates pay the exact-similarity
  * verification. Every band/bucket key space GROWS with the corpus
  * (64-bit minhash band values, 16-bit-per-band SimHash, lang ×
  * length-bucket blocking), so bucket occupancy stays bounded instead of
  * densifying into O(n²/constant) candidate sets.
  *
  * Everything hot runs in the NUMERIC domain: each shingle is md5-hashed
  * ONCE to a 60-bit BIGINT (md5 because it is bit-identical in every
  * engine, so signatures stay oracle-checkable), minhash permutations are
  * cheap universal hashes `(a·h + b) mod p` of that one base hash, band
  * keys are packed longs, and pair verification is the codegen'd
  * [[SortedIntersectSize]] two-pointer merge over sorted long arrays —
  * no interpreted `array_intersect`, no string comparisons (Spark 4.1's
  * `UTF8String.compareTo` consults `System.getenv` per call; see
  * PLANS.md trap #1).
  *
  * Performance shape: shingles are built RELATIONALLY — posexplode the
  * token array once, pair adjacent tokens with a window `lead` — so every
  * hot step is whole-stage-codegen'd column work. The tempting
  * alternative, `transform(sequence(...), i -> f(arrayCol, i))`, is a
  * trap twice over: higher-order functions are interpreted
  * (CodegenFallback), and a lambda body that references the outer column
  * re-evaluates that column's whole expression tree (the tokenizing
  * regex!) per element once projection collapsing inlines it — measured
  * as minutes instead of seconds on sf0.1. Shingle rows are NOT
  * `distinct()`ed: `min` aggregates are duplicate-insensitive and
  * `collect_set` dedups, so the extra shuffle would buy nothing.
  */
object Dedup {

  /** X1 — exact dedup by normalized-content hash. Keeps the smallest
    * doc_id per content group (deterministic survivor), reports group
    * size. Output: doc_id, content_key, group_size.
    */
  /** The exact-dup content key: md5 of the normalized text. ONE shared
    * definition — [[exact]], [[Corpus.corpusManifest]]'s prep pass, and
    * the streaming ingest's exact_dup split must all hash identically,
    * or streaming verdicts silently desynchronize from the batch
    * manifest.
    */
  def contentKey(text: Column): Column =
    md5(TextOps.normalized(text).cast("binary"))

  def exact(docs: DataFrame): DataFrame =
    exactByKey(docs.select(col("doc_id"), contentKey(col("text")).as("content_key")))

  /** [[exact]] over a PRECOMPUTED `(doc_id, content_key)` frame — the
    * form that lets a composite pipeline ([[Corpus.corpusManifest]])
    * derive the key in its one shared normalize pass instead of
    * re-scanning the corpus here.
    */
  def exactByKey(keyed: DataFrame): DataFrame = {
    val w = Window.partitionBy("content_key")
    keyed
      .withColumn("rn", row_number().over(w.orderBy("doc_id")))
      .withColumn("group_size", count(lit(1)).over(w))
      .where(col("rn") === 1)
      .select("doc_id", "content_key", "group_size")
  }

  /** Portable 60-bit base hash: the top 15 hex digits of md5 as a BIGINT.
    * DuckDB parses the identical value with
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`. Non-negative (< 2⁶⁰), so
    * `% Prime` needs no sign handling on either engine.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** 2-word shingles as rows (doc_id, s) — the shared, fully codegen'd
    * shingle pipeline for MinHash and SimHash. NOT distinct; downstream
    * aggregates (min / collect_set / distinct-on-ints) dedup cheaper than
    * an extra string shuffle would.
    */
  private[ext] def shingleRows(docs: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("nxt", lead("tok", 1).over(byDoc))
      .where(col("nxt").isNotNull)
      .select(col("doc_id"), concat(col("tok"), lit(" "), col("nxt")).as("s"))
  }

  /** Number of minhash signatures and LSH bands (rows-per-band =
    * SigCount / BandCount). 16 sigs in 8 bands of 2 catches Jaccard ≥ 0.5
    * candidates with p ≈ 1-(1-s²)⁸ (s=0.7 → 0.996).
    */
  val SigCount = 16
  val BandCount = 8

  /** Mersenne prime 2³¹−1: the modulus of the universal-hash permutation
    * family. Small enough that `a·(h mod p) + b < 2⁶²` never overflows a
    * BIGINT in any engine (DuckDB errors on 64-bit overflow where the JVM
    * wraps, so staying under 2⁶³ is a portability requirement, not just
    * hygiene).
    */
  val Prime: Long = 2147483647L

  /** Deterministic (a, b) pairs for `n` universal-hash permutations
    * `h ↦ (a·(h mod p) + b) mod p` — splitmix64 constants scaled per
    * index, reduced into [1, p−1] / [0, p−1]. [[Perms]] (the first
    * [[SigCount]]) drives the shingle-minhash family; the char-gram
    * banding ([[gramMinhashBands]]) draws [[GramSigCount]] from the
    * same generator, so all stores share one constant family.
    */
  def perms(n: Int): Seq[(Long, Long)] = (1 to n).map { i =>
    val a = ((0x9E3779B97F4A7C15L * i) & Long.MaxValue) % (Prime - 1) + 1
    val b = ((0xBF58476D1CE4E5B9L * i) & Long.MaxValue) % Prime
    (a, b)
  }

  /** One md5 per shingle feeds all 16 permutations; the previous form
    * (16 independent md5s per shingle) paid 16× the dominant hashing
    * cost for the same uniform-min property.
    */
  val Perms: Seq[(Long, Long)] = perms(SigCount)

  /** Hashed shingle rows (doc_id, h): each 2-word shingle md5'd once to
    * its 60-bit base hash — the shared input of [[minhashBands]] and
    * [[shingleSets]].
    */
  def hashedShingleRows(docs: DataFrame): DataFrame =
    shingleRows(docs).select(col("doc_id"), hash60(col("s")).as("h"))

  /** LSH band table (doc_id, band_idx, band_val) from hashed shingle rows:
    * 16 universal-hash minhash signatures, packed two-per-band into
    * collision-free long band keys. This is the SIGNATURE-STORE schema —
    * at scale it is computed once per document at ingest and persisted
    * partitioned by band_val (see [[nearDupIncremental]]); band values are
    * a pure per-document function, so bands computed batch-by-batch equal
    * bands computed over the union.
    */
  /** The [[SigCount]] universal-hash min-aggregates — ONE definition
    * shared by [[minhashBands]] and [[minhashSigRows]]: the stratified
    * 1-row-band channel is only sound because its signatures are
    * bit-identical to the banded channel's (and the oracle's).
    */
  private def sigAggs: Seq[Column] = Perms.zipWithIndex.map { case ((a, b), i) =>
    min((lit(a) * (col("h") % Prime) + lit(b)) % Prime).as(s"sig$i")
  }

  def minhashBands(hr: DataFrame): DataFrame = {
    val rows = SigCount / BandCount
    require(rows == 2, s"band key packs exactly 2 sigs into a long, got $rows per band")
    val sig = hr.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    // Band key = the band's two sigs packed into one long (sig < p, so
    // sig₀·p + sig₁ < 2⁶² — collision-free, engine-portable, and a
    // numeric join key instead of an md5 hex string).
    val bandCols = (0 until BandCount).map { j =>
      col(s"sig${j * rows}") * Prime + col(s"sig${j * rows + 1}")
    }
    sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
  }

  /** Sorted distinct hashed-shingle sets (doc_id, sh) for exact Jaccard
    * verification: longs, so the merge in [[SortedIntersectSize]] is a
    * register compare. Like [[minhashBands]], a pure per-document function
    * — the other half of the signature store.
    */
  def shingleSets(hr: DataFrame): DataFrame =
    hr.groupBy("doc_id").agg(array_sort(collect_set(col("h"))).as("sh"))

  /** X4 — near-duplicate pairs via MinHash + LSH banding on 2-word
    * shingles, verified by exact Jaccard ≥ `threshold` over the hashed
    * shingle sets. Output: doc_a, doc_b, jaccard (truncated to 6dp).
    *
    * Plan shape: one shuffle to the per-doc aggregates (the window
    * exchange on doc_id is reused by both the signature and the
    * shingle-set branch), then the band channel of [[bandPairs]]: with
    * an occupancy cap each band bucket is grouped and verified in place,
    * without one a banded self-join on packed-long band keys feeds
    * [[scoredPairs]]. Band values grow with the corpus, so buckets do
    * not densify at 100×.
    */
  def nearDupMinhash(docs: DataFrame, threshold: Double = 0.5,
      maxBandOccupancy: Int = 0): DataFrame =
    nearDupMinhashFromHashes(hashedShingleRows(docs), threshold,
      maxBandOccupancy = maxBandOccupancy)

  /** [[nearDupMinhash]] over a precomputed [[hashedShingleRows]] frame.
    * The hr subtree is consumed SEVERAL times below (the band and the
    * set branch), so a caller that already has hr materialized —
    * [[Corpus.corpusManifest]] checkpoints one shared shingle scan —
    * saves that many corpus re-scans.
    */
  def nearDupMinhashFromHashes(hr: DataFrame, threshold: Double = 0.5,
      bands: Option[DataFrame] = None,
      sets: Option[DataFrame] = None,
      maxBandOccupancy: Int = 0): DataFrame =
    // |A ∪ B| = |A| + |B| − |A ∩ B| for distinct inputs: one codegen'd
    // two-pointer merge yields exact Jaccard per candidate.
    verified(bandedScoredPairs(hr, bands, sets, maxBandOccupancy),
      "jaccard", jaccard, threshold)

  /** X4 — CONTAINMENT near-dup: pairs where the smaller document's
    * shingle set is mostly inside the larger's —
    * `C = |A ∩ B| / min(|A|, |B|) ≥ threshold`. Catches the partial-copy
    * shapes symmetric Jaccard misses by construction: a quoted document
    * inside a larger page, boilerplate-wrapped reposts, truncated
    * mirrors — a doc 20% the size of its superset has J ≤ 0.2 (invisible
    * at any sane Jaccard threshold) but containment 1.0. Output: doc_a,
    * doc_b, containment (truncated 6dp).
    *
    * Candidates come from the SAME banded minhash join (one signature
    * store serves both operators), which estimates symmetric J — so
    * recall degrades as the size ratio grows (a contained doc at 10% of
    * its superset's size has J ≈ 0.1 and band-collision probability
    * ≈ 8·J² ≈ 8%). That is the documented trade of sharing the store;
    * the web-scale fix is banding CONTAINMENT sketches (size-stratified
    * minhash) behind the same signature, and verification here is
    * already containment-exact for every candidate surfaced.
    */
  def containmentNearDup(docs: DataFrame, threshold: Double = 0.8,
      maxBandOccupancy: Int = 0): DataFrame =
    containmentNearDupFromHashes(hashedShingleRows(docs), threshold,
      maxBandOccupancy = maxBandOccupancy)

  /** [[containmentNearDup]] over a precomputed [[hashedShingleRows]]
    * frame — the signature-store probe form (see
    * [[nearDupMinhashFromHashes]]).
    */
  def containmentNearDupFromHashes(hr: DataFrame, threshold: Double = 0.8,
      bands: Option[DataFrame] = None,
      sets: Option[DataFrame] = None,
      maxBandOccupancy: Int = 0): DataFrame =
    verified(bandedScoredPairs(hr, bands, sets, maxBandOccupancy),
      "containment", containment, threshold)

  /** Per-document minhash SIGNATURE rows (doc_id, n, sig_idx, sig_val)
    * — the unbanded form of the signature store, with the distinct
    * shingle-set size `n` carried from the SAME aggregate (the
    * size-stratified channel needs both; a separate size aggregate
    * would re-scan hr and pay a doc_id join to reunite them).
    */
  def minhashSigRows(hr: DataFrame): DataFrame =
    hr.groupBy("doc_id")
      .agg(count_distinct(col("h")).as("n"), sigAggs: _*)
      .select(col("doc_id"), col("n"),
        posexplode(array((0 until SigCount).map(i => col(s"sig$i")): _*))
          .as(Seq("sig_idx", "sig_val")))

  /** X4 — SIZE-STRATIFIED containment (the LSH-Ensemble idea — Zhu,
    * Nakashole & Miller, "LSH Ensemble: Internet-Scale Domain Search",
    * VLDB'16 — reduced to two strata): [[containmentNearDup]]'s banded
    * channel under-recalls skewed pairs by construction, because 2-row
    * bands are tuned for symmetric Jaccard and a contained doc at size
    * ratio r has J = C/(1 + r − C) — at r = 5, C = 1 that is J = 0.2,
    * band-collision probability ≈ 1−(1−J²)⁸ ≈ 27%. This variant adds a
    * WIDER candidate channel exactly where the banded one thins out:
    * pairs whose set sizes differ by more than `ratioCut` are candidates
    * on at least `minSigMatches` of the 16 signatures (1-row bands,
    * aggregated per pair). Near-size pairs keep the
    * selective banded channel, so the permissive channel's extra
    * collisions are paid ONLY on the skewed slice of the pair space;
    * both channels feed the same exact containment verification, so the
    * union can only add recall, never error. Output: doc_a, doc_b,
    * containment.
    *
    * `minSigMatches` is what keeps the permissive channel sub-quadratic
    * on boilerplate-heavy corpora. At 1, a skewed pair fires on ANY
    * signature — probability 1−(1−J)¹⁶ ≈ 27% at J = 0.02 and ≈ 56% at
    * J = 0.05, similarity levels that ubiquitous shared boilerplate
    * produces between essentially UNRELATED web documents, so with only
    * the size ratio as a gate the candidate volume approaches
    * O(skewed-pairs), each paying exact verification. At the default 2
    * the J = 0.02 firing rate drops to 1−(1−J)¹⁶−16·J·(1−J)¹⁵ ≈ 4%
    * (≈ 7× fewer boilerplate candidates, quadratically better as J → 0)
    * while a genuinely contained skewed pair (r = 5, C = 1 → J = 0.2)
    * still fires with ≈ 86% — ≈ 90% unioned with the banded channel —
    * which is the recall the channel exists for. DedupPropertySpec pins
    * both sides: bounded candidate volume on a planted boilerplate
    * corpus, and the ratio-5 recall fixture.
    *
    * Scale: the 1-row-band join keys on raw (sig_idx, sig_val) — a
    * value space that grows with the corpus like the packed band keys —
    * the size-ratio gate sits in the join condition, and the
    * `minSigMatches` gate is one count aggregate over the collision
    * pairs, so candidate volume is bounded by the multi-collision count,
    * not the corpus square. A full LSH-Ensemble (geometric size partitions,
    * per-partition (b, r) tuned to the containment threshold) drops in
    * behind the same two-channel shape if more strata are ever needed.
    */
  /** @param strata number of size strata (2 or 3). The default 2 is the
    *   two-channel scheme above. 3 splits the skewed class GEOMETRICALLY
    *   (the full LSH-Ensemble shape): ratios in (ratioCut, ratioCut²]
    *   keep the `minSigMatches` gate, while the EXTREME class
    *   (ratio > ratioCut²) fires on any single signature — at those
    *   ratios a contained pair's J ≤ 1/ratioCut² puts the expected match
    *   count near 1, so a ≥ 2 gate would forfeit nearly all recall (the
    *   16-signature store cannot give both bounded FPs and recall
    *   there; Zhu et al. widen the small strata's signatures instead,
    *   which would grow the shared store). Opt-in because the extreme
    *   channel re-admits the boilerplate FP class for very skewed
    *   pairs: a recall-rescue whose candidate cost is the documented
    *   ensemble trade.
    */
  def containmentNearDupStratified(docs: DataFrame, threshold: Double = 0.8,
      ratioCut: Double = 2.0, minSigMatches: Int = 2, strata: Int = 2,
      maxSigOccupancy: Int = 0, maxBandOccupancy: Int = 0): DataFrame =
    // hr feeds three consumers (bands, sig rows, verification sets):
    // checkpoint so tokenize+shingle runs once, the corpusManifest
    // precedent.
    containmentNearDupStratifiedFromHashes(
      Ckpt.ser(hashedShingleRows(docs)), threshold, ratioCut,
      minSigMatches, strata,
      maxSigOccupancy = maxSigOccupancy, maxBandOccupancy = maxBandOccupancy)

  /** [[containmentNearDupStratified]] over a precomputed — and already
    * MATERIALIZED (checkpointed/persisted store) — [[hashedShingleRows]]
    * frame: hr feeds three consumers, so a lazy hr would re-run its
    * subtree three times.
    */
  def containmentNearDupStratifiedFromHashes(hr: DataFrame,
      threshold: Double = 0.8, ratioCut: Double = 2.0,
      minSigMatches: Int = 2,
      strata: Int = 2, bands: Option[DataFrame] = None,
      sigRows: Option[DataFrame] = None,
      sets: Option[DataFrame] = None,
      maxSigOccupancy: Int = 0, maxBandOccupancy: Int = 0): DataFrame = {
    require(strata == 2 || strata == 3, s"strata must be 2 or 3, got $strata")
    // Sig rows carry the set size from their own aggregate — no second
    // size aggregate, no doc_id reunite join. A caller holding the
    // persisted sig-row store passes it and skips the 16-permutation
    // min-aggregate entirely (the band-store precedent).
    val sized = sigRows.getOrElse(minhashSigRows(hr))
    val skew =
      if (strata == 2)
        skewCandidates(sized, ratioCut, minSigMatches,
          maxSigOccupancy = maxSigOccupancy)
      else
        skewCandidates(sized, ratioCut, minSigMatches,
          hiRatio = Some(ratioCut * ratioCut),
          maxSigOccupancy = maxSigOccupancy)
          .union(skewCandidates(sized, ratioCut * ratioCut, 1,
            maxSigOccupancy = maxSigOccupancy))
    verified(scoredPairs(
      bandedCandidates(bands.getOrElse(minhashBands(hr)), maxBandOccupancy)
        .union(skew),
      sets.getOrElse(shingleSets(hr))),
      "containment", containment, threshold)
  }

  /** The permissive skewed-size channel of
    * [[containmentNearDupStratified]], exposed for the property suite:
    * pairs of [[minhashSigRows]] documents whose set-size ratio exceeds
    * `ratioCut` (and, when `hiRatio` bounds the stratum, is ≤ it) AND
    * that agree on at least `minSigMatches` of the [[SigCount]]
    * signatures. One aggregate over the (sig_idx, sig_val) collision
    * pairs — the ≥-count gate is what keeps the channel's candidate
    * volume sub-quadratic on boilerplate-heavy corpora (see the
    * caller's scaladoc for the firing-rate arithmetic).
    */
  /** @param maxSigOccupancy opt-in hot-bucket bound (> 0 enables): skip
    *   (sig_idx, sig_val) buckets holding more than this many documents
    *   — the [[nearDupLookup]] hot-band cap applied to the permissive
    *   1-row-band channel, whose posting lists are the family's most
    *   saturation-sensitive (a popular min-shingle's bucket grows with
    *   every document that carries it; the r13 sf10 full-set run
    *   measured the stratified query at 21.6×/decade from exactly this
    *   class of growth). Recall trade as documented at the call sites:
    *   a skewed pair is lost only if ALL its ≥ minSigMatches collision
    *   buckets are saturated. Default 0 = unbounded (the declared
    *   query's contract).
    */
  private[graft] def skewCandidates(sized: DataFrame, ratioCut: Double,
      minSigMatches: Int, hiRatio: Option[Double] = None,
      maxSigOccupancy: Int = 0): DataFrame = {
    // RATIO-INCAPABLE bucket skip (VERDICT r15 #6 — the residual behind
    // the sf100 12.6×/decade was this channel's pair census): a bucket
    // whose max(n) ≤ min(n)·ratioCut cannot contain ANY size-skewed pair
    // — a qualifying pair inside it would force the bucket's extremes
    // apart (big ≤ nmax ≤ nmin·ratioCut ≤ small·ratioCut contradicts
    // big > small·ratioCut) — so dropping it is EXACT: zero recall
    // trade, no oracle mirror needed, unlike the occupancy cap. On a
    // vocabulary-saturated corpus most saturating buckets are uniform
    // boilerplate, exactly the ratio-incapable class, so their occ²
    // pair mass never forms. The census is one linear aggregate (merged
    // with the occupancy census when the cap is on), and the anti join
    // keys on the same (sig_idx, sig_val) hash partitioning the pair
    // self-join below shuffles on anyway, so Catalyst reuses the
    // exchange rather than adding one.
    val dead = sized.groupBy("sig_idx", "sig_val")
      .agg(count(lit(1)).as("__occ"), min(col("n")).as("__nlo"),
        max(col("n")).as("__nhi"))
      .where(col("__nhi") <= col("__nlo") * ratioCut ||
        (if (maxSigOccupancy > 0) col("__occ") > maxSigOccupancy
         else lit(false)))
      .select("sig_idx", "sig_val")
    val base = sized.join(dead, Seq("sig_idx", "sig_val"), "left_anti")
    val big = greatest(col("a.n"), col("b.n"))
    val small = least(col("a.n"), col("b.n"))
    base.as("a")
      .join(base.as("b"),
        col("a.sig_idx") === col("b.sig_idx") &&
          col("a.sig_val") === col("b.sig_val") &&
          col("a.doc_id") < col("b.doc_id") &&
          big > small * ratioCut &&
          hiRatio.fold(lit(true))(h => big <= small * h))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_sig_matches"))
      .where(col("n_sig_matches") >= minSigMatches)
      .select("doc_a", "doc_b")
  }

  /** Shared verification core of the minhash family: banded candidate
    * generation + exact sorted-set intersection, leaving the similarity
    * FORMULA (Jaccard / containment) to the caller via [[verified]].
    * Returns (doc_a, doc_b, n_a, n_b, inter) for every band-collision
    * pair, doc_a < doc_b.
    */
  private def bandedScoredPairs(hr: DataFrame,
      bands: Option[DataFrame] = None,
      sets: Option[DataFrame] = None,
      maxBandOccupancy: Int = 0): DataFrame =
    bandPairs(bands.getOrElse(minhashBands(hr)).withColumn("f", lit(true)),
      sets.getOrElse(shingleSets(hr)), maxBandOccupancy)(selfPair)

  /** A field of one side of a candidate pair: `x("doc_id")`. The pair
    * predicates below are written once over two sides and applied both
    * to the bucket members of [[bucketPairs]] and to the aliased sides
    * of the [[bandedCandidates]] self-join.
    */
  private[ext] type Side = String => Column

  /** Self-pairs of one corpus, each unordered pair once. */
  private[ext] val selfPair: (Side, Side) => Column =
    (a, b) => a("doc_id") < b("doc_id")

  /** Probe pairs: from a probe row (`f`) to any other document. */
  private[ext] val probePair: (Side, Side) => Column =
    (a, b) => a("f") && a("doc_id") =!= b("doc_id")

  /** Incremental pairs: from a new document (`f`) to a stored one or to
    * an earlier new one, so batch-internal pairs appear once. */
  private[ext] val newPair: (Side, Side) => Column =
    (a, b) => probePair(a, b) && (!b("f") || b("doc_id") < a("doc_id"))

  /** Every band-collision pair meeting `pair`, scored: (doc_a, doc_b,
    * n_a, n_b, inter), where doc_a is the pair's first side. `bands` is
    * (doc_id, band_idx, band_val, f) — `f` marks the rows a pair may
    * start from (the probe, the new batch; `true` for self-pairs) —
    * and `sets` is (doc_id, sh). With an occupancy cap the pairs are
    * verified inside their bucket ([[bucketPairs]]); without one the
    * band self-join feeds [[scoredPairs]]. A pair that collides in
    * several bands appears once per band on the bucket path, so the
    * caller keeps rows through [[verified]], whose distinct makes them
    * unique.
    */
  private def bandPairs(bands: DataFrame, sets: DataFrame, cap: Int)(
      pair: (Side, Side) => Column): DataFrame =
    if (cap > 0) bucketPairs(bands, sets, cap)(pair)
    else scoredPairs(bandedCandidates(bands, 0, pair), sets)

  /** Band-bucket verification under an occupancy cap (`cap` > 0): the
    * LSH banding scheme of Leskovec, Rajaraman & Ullman (*Mining of
    * Massive Datasets* ch. 3), run as text-dedup's Spark MinHash runs
    * it — group each band bucket, emit and score the pairs inside it.
    *
    *  1. A window over (band_idx, band_val) counts each bucket's
    *     occupancy; only live buckets stay — 2 ≤ occ ≤ cap, holding at
    *     least one row with `f` set. A skipped bucket is exactly the one
    *     [[bandedCandidates]]' hot-bucket census drops, or one that can
    *     form no pair.
    *  2. Sets join onto the live members only, so a document's set
    *     moves at most [[BandCount]] times, and only if it is in a live
    *     bucket.
    *  3. One groupBy per bucket collects (doc_id, f, sh) of its members.
    *  4. Two explodes enumerate the member pairs under `pair`, and
    *     [[SortedIntersectSize]] scores them.
    *
    * One bucket holds at most `cap` sets, so the grouped row is bounded;
    * that bound is why the plan needs the cap and why no pair frame,
    * checkpoint or set-attach join exists on this path. A pair that
    * collides in k live bands is emitted k times with the same score;
    * callers collapse the copies with a distinct over the verified rows.
    */
  private[ext] def bucketPairs(bands: DataFrame, sets: DataFrame, cap: Int)(
      pair: (Side, Side) => Column): DataFrame = {
    require(cap > 0, s"bucket verification needs an occupancy cap, got $cap")
    val bucket = Window.partitionBy("band_idx", "band_val")
    val x: Side = c => col("x")(c)
    val y: Side = c => col("y")(c)
    bands
      .withColumn("__occ", count(lit(1)).over(bucket))
      .withColumn("__live", max(col("f")).over(bucket))
      .where(col("__occ").between(2, cap) && col("__live"))
      .join(sets.select("doc_id", "sh"), "doc_id")
      .groupBy("band_idx", "band_val")
      .agg(collect_list(struct("doc_id", "f", "sh")).as("m"))
      .select(explode(col("m")).as("x"), col("m"))
      .select(col("x"), explode(col("m")).as("y"))
      .where(pair(x, y))
      .select(x("doc_id").as("doc_a"), y("doc_id").as("doc_b"),
        size(x("sh")).as("n_a"), size(y("sh")).as("n_b"),
        SortedIntersectSize(x("sh"), y("sh")).as("inter"))
  }

  /** The standard 2-row-band candidate channel: pairs sharing any packed
    * band key that meet `pair` (default doc_a < doc_b). Takes the BAND
    * TABLE (the signature store's at-rest half, [[minhashBands]])
    * directly, so a persisted store skips the 16-permutation
    * min-aggregate entirely.
    *
    * @param maxBandOccupancy opt-in hot-bucket bound (> 0 enables):
    *   band buckets holding more than this many documents are skipped —
    *   the [[nearDupLookup]] hot-band cap applied to the family's pair
    *   channel. Without it, candidate volume is bounded only by
    *   Σ occupancy² over the posting buckets, and saturated buckets DO
    *   occur at scale: a healthy banded store runs occupancy ~1–2, but
    *   shared-background band values grow with every document that
    *   carries them (the r13 sf10 full-set run measured the uncapped
    *   channel at 14×/decade from exactly this class of growth). With
    *   the cap, candidate volume is ≤ Σ min(occ, cap)² — linear in the
    *   corpus once buckets saturate. Recall trade, documented at the
    *   declared call sites: a true pair is lost only if EVERY band it
    *   collides in is saturated; a near-dup pair at J ≥ 0.5 collides in
    *   ≈ J²·16 ≈ 4 independent bands, and duplicate clusters above the
    *   cap are the case [[exact]] dedup already answers without pair
    *   enumeration. The census is one aggregate over the band store —
    *   at rest it is maintained with the store itself. Default 0 =
    *   unbounded (the API contract; callers opt in per corpus).
    *   [[bucketPairs]] applies the same census to the verified pairs.
    */
  private[graft] def bandedCandidates(banded: DataFrame,
      maxBandOccupancy: Int = 0,
      pair: (Side, Side) => Column = selfPair): DataFrame = {
    val base =
      if (maxBandOccupancy <= 0) banded
      else {
        // Saturated-bucket list: tiny (only buckets above the cap), so
        // the anti join broadcasts it via AQE.
        val hot = banded.groupBy("band_idx", "band_val")
          .agg(count(lit(1)).as("__occ"))
          .where(col("__occ") > maxBandOccupancy)
          .select("band_idx", "band_val")
        banded.join(hot, Seq("band_idx", "band_val"), "left_anti")
      }
    base.as("a")
      .join(base.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          pair(c => col(s"a.$c"), c => col(s"b.$c")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** Exact verification of a candidate PAIR channel: (doc_a, doc_b) →
    * (doc_a, doc_b, n_a, n_b, inter). It serves what is not a capped
    * band bucket — the stratified skew channel of
    * [[containmentNearDupStratified]], the uncapped gram bands of
    * [[ngramJaccardBanded]], and every cap = 0 caller (the streaming
    * [[nearDupIncremental]], the API defaults). Capped band
    * channels never come here: [[bucketPairs]] verifies them inside the
    * bucket, with no pair frame.
    *
    * The plan distincts and checkpoints the pair list, restricts `sets`
    * to candidate ids, and attaches a set to each side of every pair.
    */
  private[ext] def scoredPairs(cand0: DataFrame, sets0: DataFrame): DataFrame = {
    // localCheckpoint: cand is collision pairs — small — and it is
    // consumed three times below (id filter twice, pair join once);
    // materializing it keeps the candidate-generation subtree from
    // re-executing per consumer.
    val cand = Ckpt.ser(cand0.distinct())
    // Candidate-id semi-filter: the verification inner joins only ever
    // consume candidate docs' sets, so restricting the set frame first
    // is exact. With a persisted set store it makes the attach joins
    // point reads in every store medium (ADVICE r17 #1) — without it
    // both joins shuffle the FULL set table even when candidate pairs
    // are few. candIds is band collisions, so AQE broadcasts the semi
    // side when it measures small; on a duplicate-saturated corpus it
    // IS the corpus, so no join here assumes a broadcast. Materialized
    // because both attach joins consume it: without the checkpoint the
    // store scan + semi-join subtree would re-execute per consumer.
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sets = Ckpt.ser(sets0.select("doc_id", "sh")
      .join(candIds, Seq("doc_id"), "left_semi"))
    // Join strategy (guide §3.1): the attached-sets frame below grows to
    // |pairs| × |avg set| — tens of GB at sf100 uncapped — and a
    // sort-merge join would EXTERNAL-SORT it for the second attach (the
    // r18 stage-3 campaign run died on exactly that spill). The sets
    // side is candidate-bounded by the semi-join above, so it is the
    // hash BUILD side: shuffled-hash keeps the wide pair frame
    // streaming, never sorted.
    val withA = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .hint("shuffle_hash")
      .join(cand, "doc_a")
    sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      .hint("shuffle_hash")
      .join(withA, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"),
        SortedIntersectSize(col("sh_a"), col("sh_b")).as("inter"))
  }

  /** Exact Jaccard of a scored pair, truncated to 6dp:
    * |A ∩ B| / (|A| + |B| − |A ∩ B|) over distinct sets. */
  private[ext] def jaccard: Column = TextOps.trunc6(col("inter") /
    (col("n_a") + col("n_b") - col("inter")).cast("double"))

  /** Exact containment of a scored pair, truncated to 6dp:
    * |A ∩ B| / min(|A|, |B|). */
  private def containment: Column = TextOps.trunc6(col("inter") /
    least(col("n_a"), col("n_b")).cast("double"))

  /** (doc_a, doc_b, `name`) for the scored pairs whose `score` clears
    * `threshold`. The distinct is exact — a pair's score is a function
    * of its two sets — and it collapses the per-band copies
    * [[bucketPairs]] emits, over verified rows only.
    */
  private[ext] def verified(scored: DataFrame, name: String, score: Column,
      threshold: Double): DataFrame =
    scored.select(col("doc_a"), col("doc_b"), score.as(name))
      .where(col(name) >= threshold)
      .distinct()

  /** X4 — INCREMENTAL near-dup: dedupe a newly-arrived batch against an
    * existing corpus (and within itself) without ever re-pairing the
    * existing corpus with itself. Output: doc_new (∈ incoming), doc_match
    * (∈ existing, or an earlier incoming doc), jaccard ≥ `threshold`.
    * Requires disjoint doc_id spaces between the two frames.
    *
    * This is the 100 TB shape of deduplication: a full-corpus
    * [[nearDupMinhash]] re-run per arriving batch is O(corpus) forever,
    * while here the existing side contributes only its SIGNATURE STORE —
    * [[minhashBands]] + [[shingleSets]], pure per-document functions
    * computed once at ingest and persisted (bands partitioned by
    * band_val, sets by doc_id). Per batch the work is O(|batch| shingles)
    * + the band-collision joins: the batch's band table probes the stored
    * band table (the BATCH side is bounded by contract, never the
    * corpus), and only collision pairs pay verification. Batch-internal
    * dups are caught in the same pass by unioning the batch's own bands
    * with an id-order tie-break, so results are independent of how a
    * stream of documents is cut into batches.
    */
  def nearDupIncremental(existing: DataFrame, incoming: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val hrE = hashedShingleRows(existing)
    // Recompute the existing side's signature tables in-query; the store
    // form ([[nearDupAgainstStore]]) takes them pre-persisted instead and
    // nothing downstream changes (CorpusPrepSpec asserts the parquet
    // round trip is exact).
    nearDupAgainstStore(minhashBands(hrE), shingleSets(hrE), incoming, threshold)
  }

  /** [[nearDupIncremental]] against a PERSISTED signature store: the
    * existing corpus contributes only its band table (schema
    * `(doc_id, band_idx, band_val)`, partitioned by band_idx/bucketed by
    * band_val at rest) and its shingle-set table (`(doc_id, sh)`), both
    * written once per batch at ingest by [[minhashBands]]/[[shingleSets]].
    * This is the form a 100 TB pipeline actually runs: per batch it reads
    * the store, never re-tokenizes the corpus.
    *
    * Store and batch band rows are unioned with `f` = is-new, and a pair
    * starts at a new doc: it matches a stored doc, or an earlier new one.
    * With `maxBandOccupancy` > 0 (the declared query passes 64) the
    * pairs are verified inside their band bucket ([[bucketPairs]]):
    * buckets above the cap — counted over store + batch — are skipped,
    * as are buckets without a new doc, and only live members' sets
    * move. With 0 (the streaming caller) the band self-join feeds
    * [[scoredPairs]].
    */
  def nearDupAgainstStore(existingBands: DataFrame, existingSets: DataFrame,
      incoming: DataFrame, threshold: Double = 0.5,
      maxBandOccupancy: Int = 0): DataFrame = {
    // The batch's hashed-shingle scan feeds its band table AND its set
    // table: checkpoint so the batch tokenize+shingle+md5 pass runs
    // once — the corpusManifest shared-scan precedent, batch-sized
    // state only.
    val hrI = Ckpt.ser(hashedShingleRows(incoming))
    val bands = existingBands
      .select(col("doc_id"), col("band_idx"), col("band_val")) // store col order free
      .withColumn("f", lit(false))
      .unionByName(minhashBands(hrI).withColumn("f", lit(true)))
    val sets = existingSets.select(col("doc_id"), col("sh"))
      .unionByName(shingleSets(hrI))
    verified(bandPairs(bands, sets, maxBandOccupancy)(newPair),
      "jaccard", jaccard, threshold)
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_match"), col("jaccard"))
  }

  /** Point-lookup near-dup SEARCH against the signature store: for
    * every document matching the `probe` predicate, all of its corpus
    * near-dups at `threshold` — the interactive face of the dedup
    * family ("what does this doc duplicate?") and the read path of an
    * entity-resolution service. Candidates share a band bucket with a
    * probe row; only candidate documents' shingle sets are read for
    * verification. Output both directions: (probe_id, match_id,
    * jaccard) — two probes that match each other each get a row.
    *
    * Scale: the probe is a predicate over the band rows (`f`), and at
    * rest band_val is the store's bucket key. Nothing in the plan scans
    * the corpus text.
    *
    * HOT-BAND BOUND (`maxBandOccupancy`): band buckets holding more
    * than `maxBandOccupancy` documents are SKIPPED entirely — without
    * it, per-probe cost is bounded only by the hottest posting list,
    * and saturated buckets DO occur at scale (a healthy banded store
    * runs occupancy ~1–2, but identical-signature duplicate clusters
    * and degenerate-content bands grow ∝ their cluster size: the r12
    * sf10 run measured per-probe cost ×2.8 per corpus decade from
    * exactly this). With the cap, a probe verifies ≤ [[BandCount]] ×
    * maxBandOccupancy candidates — FLAT per-probe cost at any corpus
    * size — and the verification runs inside the bucket
    * ([[bucketPairs]]): only buckets holding a probe row are grouped,
    * and a set moves at most once per live band. The recall trade,
    * documented: a pair is lost only if EVERY band it collides in is
    * saturated — for true near-dups below cluster size
    * `maxBandOccupancy` at least one rare band survives in expectation,
    * and a probe INSIDE a >cap identical cluster is exactly the case
    * exact dedup ([[exact]]) already answers without pair enumeration
    * (the LSH-Ensemble `minSigMatches` class of trade; WarehouseOpsSpec
    * pins both sides). Default 0 = unbounded, matching every other
    * occupancy knob in the family: the band self-join feeds
    * [[scoredPairs]], whose candidate-id semi-join keeps the set reads
    * to candidates.
    */
  def nearDupLookup(storeBands: DataFrame, hr: DataFrame, probe: Column,
      threshold: Double = 0.5, maxBandOccupancy: Int = 0,
      storeSets: Option[DataFrame] = None): DataFrame = {
    val bands = storeBands.select(col("doc_id"), col("band_idx"),
      col("band_val"), probe.as("f"))
    verified(bandPairs(bands, storeSets.getOrElse(shingleSets(hr)),
        maxBandOccupancy)(probePair),
      "jaccard", jaccard, threshold)
      .select(col("doc_a").as("probe_id"), col("doc_b").as("match_id"), col("jaccard"))
  }

  /** X1/X4 composition — duplicate GROUPS: connected components of the
    * MinHash near-dup pair graph, the clustering step that turns pairwise
    * near-dup hits into "keep one doc per group" decisions in a training-
    * data pipeline. Output: doc_id, group_id (smallest doc_id in the
    * component — deterministic canonical representative), group_size.
    * Only documents that appear in at least one verified pair are listed
    * (singletons are trivially their own group and would dominate the
    * output without informing dedup).
    *
    * Algorithm: iterative min-label propagation. labels start as
    * min(self, neighbors); each round every node takes the min of its
    * label and its neighbors' labels; fixpoint = every node holds its
    * component's minimum id. Rounds = graph diameter; near-dup components
    * are short chains of mutually-similar docs (diameter rarely > 3), so
    * 3–4 rounds of 2 shuffles each is the practical cost. Each round
    * `localCheckpoint`s the label frame: labels are node-sized (tiny
    * relative to the corpus), and truncating lineage keeps round N's plan
    * from re-running rounds 1..N−1 — without it the plan doubles per
    * round. At adversarial diameters (long chains) propagation hands off
    * AUTOMATICALLY to the O(log n)-round alternating
    * [[largeStarSmallStar]] (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") behind the same signature; the driver-side
    * loop stays — iteration count is the convergence test, data never
    * leaves the cluster.
    */
  def dupGroups(docs: DataFrame, threshold: Double = 0.5,
      maxIters: Int = 25, maxBandOccupancy: Int = 0): DataFrame =
    dupGroupsFromHashes(hashedShingleRows(docs), threshold, maxIters,
      maxBandOccupancy = maxBandOccupancy)

  /** [[dupGroups]] over a precomputed [[hashedShingleRows]] frame — see
    * [[nearDupMinhashFromHashes]] for why callers pass hr.
    */
  def dupGroupsFromHashes(hr: DataFrame, threshold: Double = 0.5,
      maxIters: Int = 25, bands: Option[DataFrame] = None,
      sets: Option[DataFrame] = None,
      maxBandOccupancy: Int = 0): DataFrame =
    connectedComponents(
      nearDupMinhashFromHashes(hr, threshold, bands = bands, sets = sets,
        maxBandOccupancy = maxBandOccupancy)
        .select("doc_a", "doc_b"),
      "doc_a", "doc_b", maxIters)
      .select(col("node").as("doc_id"), col("label").as("group_id"))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy("group_id")))

  /** The dedup ACTION: per-document retention decision after near-dup
    * clustering — what a pipeline actually applies to the corpus, as
    * opposed to the pair/group REPORTS above. Every document gets its
    * near-dup component label (its own id when it has no near-dups) and
    * `kept` = is it the component's canonical survivor (minimum doc_id —
    * deterministic, no tie-break ambiguity across engines). Filtering
    * `kept` yields the deduplicated corpus; the label column is the
    * provenance trail (which survivor each dropped doc collapsed into).
    * Output: doc_id, group_id, kept.
    *
    * Scale design: [[dupGroups]]'s component labels cover only documents
    * that HAVE near-dups — a frame orders of magnitude smaller than the
    * corpus on healthy data. The corpus joins against it left-outer on
    * doc_id; AQE broadcasts the label side when it measures small, and on
    * duplicate-saturated crawls the shuffle join is the safe fallback.
    * `kept` is a pure projection of the join result — no second pass.
    */
  def nearDupRetain(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    nearDupRetainFromHashes(docs, hashedShingleRows(docs), threshold)

  /** [[nearDupRetain]] probing a precomputed [[hashedShingleRows]]
    * signature store; `docs` still supplies the corpus id list.
    */
  def nearDupRetainFromHashes(docs: DataFrame, hr: DataFrame,
      threshold: Double = 0.5, bands: Option[DataFrame] = None): DataFrame =
    nearDupRetainFromLabels(docs,
      dupGroupsFromHashes(hr, threshold, bands = bands))

  /** [[nearDupRetain]] probing a precomputed GROUP-LABEL store
    * ([[dupGroupsFromHashes]] output — the dedup job's primary at-rest
    * artifact): the retention decision is one left join + projection,
    * no candidate generation or component iteration at probe time.
    */
  def nearDupRetainFromLabels(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.select("doc_id")
      .join(labels.select("doc_id", "group_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .withColumn("kept", col("group_id") === col("doc_id"))

  /** Cross-source overlap audit — which corpus sources near-duplicate
    * each other, the dataset-mixing diagnostic (two crawls of the same
    * sites, a dump re-released under a new name, benchmark leakage
    * between "distinct" collections). Verified near-dup pairs are rolled
    * up by unordered source pair with integer-exact similarity mass:
    * jaccard is already floor-truncated to 6dp, so `round(j·10⁶)` is an
    * exact integer on any IEEE engine and sums portably where a float
    * mean would be order-dependent. Output: source_a ≤ source_b, n_pairs,
    * avg_j_micro (= Σ micro-jaccard div n, integer division).
    *
    * Scale shape: the pair frame (band collisions that VERIFIED — far
    * smaller than the corpus) joins the (doc_id, source) projection
    * twice on doc_id; both are shuffle joins AQE can downgrade to
    * broadcast when the pair side measures small. The rollup output is
    * |sources|², a constant-sized audit table at any corpus size.
    */
  def sourceOverlap(docs: DataFrame, threshold: Double = 0.5,
      maxBandOccupancy: Int = 0): DataFrame =
    sourceOverlapFromHashes(docs, hashedShingleRows(docs), threshold,
      maxBandOccupancy = maxBandOccupancy)

  /** [[sourceOverlap]] probing a precomputed [[hashedShingleRows]]
    * signature store; `docs` still supplies the (doc_id, source) map.
    */
  def sourceOverlapFromHashes(docs: DataFrame, hr: DataFrame,
      threshold: Double = 0.5, bands: Option[DataFrame] = None,
      sets: Option[DataFrame] = None,
      maxBandOccupancy: Int = 0): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = nearDupMinhashFromHashes(hr, threshold, bands = bands,
      sets = sets, maxBandOccupancy = maxBandOccupancy)
      .withColumn("j_micro", round(col("jaccard") * 1000000).cast("long"))
    pairs
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "src_a"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "src_b"), "doc_b")
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j_micro")).as("sum_j"))
      // Integer `div`, not float mean: exact at any pair count on both
      // engines (a double mean is summation-order-dependent).
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        expr("sum_j div n_pairs").as("avg_j_micro"))
  }

  /** Connected components of an undirected pair graph by iterative
    * min-label propagation (see [[dupGroups]] for the scale notes).
    * `pairs` holds one row per undirected edge; returns (node, label)
    * with label = the component's minimum node id. Nodes with no edges
    * don't appear (a pair list carries no singletons).
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 25): DataFrame = {
    // Undirected edge list, materialized once — every propagation round
    // re-reads it, and its upstream plan (for dupGroups, the whole LSH
    // pipeline) must not re-run per round.
    val edges = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(pairs.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .localCheckpoint()
    var labels = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("node"), least(col("node"), col("nmin")).as("label"))
      .localCheckpoint()
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      // Neighbor minimum per node, then pointwise min with the current
      // label; `chg` rides along so convergence costs no extra pass.
      val prop = edges.join(labels, col("src") === col("node"))
        .groupBy(col("dst").as("dnode")).agg(min(col("label")).as("nmin"))
      val next = labels.join(prop, col("node") === col("dnode"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          coalesce(col("nmin") < col("label"), lit(false)).as("chg"))
        .localCheckpoint()
      changed = next.where(col("chg")).count()
      labels = next.select("node", "label")
      iters += 1
    }
    // Adversarial-diameter fallback: a component whose diameter exceeds
    // maxIters (a long chain) can't finish under plain propagation, whose
    // round count is the DIAMETER. Large-star/small-star contracts paths
    // instead of walking them — O(log² n) rounds worst case, in practice
    // a handful — so availability never cliffs on graph shape. The happy
    // path (short near-dup chains) still takes the cheaper propagation
    // exit above and never reaches here.
    if (changed == 0) labels else largeStarSmallStar(edges)
  }

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the adversarial-diameter fallback of
    * [[connectedComponents]]. Each round is two grouped aggregates + two
    * joins over the CURRENT edge frame (which only shrinks toward star
    * shape, never grows beyond 2|E|):
    *
    *  - large-star: every node u links each STRICTLY LARGER neighbor to
    *    `m = min(Γ(u) ∪ {u})` — long tails fold onto local minima;
    *  - small-star: every node u links itself and each smaller neighbor
    *    to its neighborhood minimum — stars flatten to depth 1.
    *
    * Both operations preserve connectivity and never create new
    * components (every emitted edge connects two nodes already connected
    * through u), and alternating them converges to one star per
    * component rooted at the component minimum in O(log² n) rounds
    * (O(log n) in practice). The driver-side loop is iteration control
    * only (edge-count fixpoint test); edges `localCheckpoint` per round
    * exactly like the propagation path, so plans stay flat. Returns the
    * same (node, label) shape as the propagation path.
    */
  private def largeStarSmallStar(edges: DataFrame): DataFrame = {
    // Canonical directed form: u > v per edge (self-loops dropped).
    var e = edges.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct()
      .localCheckpoint()
    // Nodes are fixed by the ORIGINAL edge set — star edges lose
    // non-root arity, so membership must be captured up front.
    val nodes = edges.select(col("src").as("node")).distinct().localCheckpoint()
    var converged = false
    // 64 alternations ≫ log²(any JVM-representable node count): the cap
    // is a runaway backstop, not a tunable.
    var rounds = 0
    while (!converged && rounds < 64) {
      // Large-star over the symmetric neighborhood view.
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val mins = sym.groupBy("a").agg(min(col("b")).as("nm"))
        .select(col("a"), least(col("a"), col("nm")).as("m"))
      // (b, m) for b ∈ Γ(a), b > a; b > a ≥ m keeps the u > v canon.
      val ls = sym.join(mins, "a").where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      // Small-star over the directed form: every u and its smaller
      // neighbors all link to the neighborhood minimum.
      val sMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(sMin, "u")
        .select(col("v").as("su"), col("m").as("sv"))
        .union(sMin.select(col("u").as("su"), col("m").as("sv")))
        .where(col("su") =!= col("sv")).distinct()
        .select(col("su").as("u"), col("sv").as("v"))
        .localCheckpoint()
      // Fixpoint: the round changed nothing. Set equality in ONE action:
      // both frames are distinct, so tagging each side ±1 and summing
      // per (u, v) leaves nonzero exactly on the symmetric difference —
      // one aggregate over edge-sized frames instead of the previous two
      // separate anti-join isEmpty jobs per round.
      converged = ss.select(col("u"), col("v"), lit(1).as("side"))
        .union(e.select(col("u"), col("v"), lit(-1).as("side")))
        .groupBy("u", "v").agg(sum(col("side")).as("d"))
        .where(col("d") =!= 0)
        .isEmpty
      e = ss
      rounds += 1
    }
    require(converged, "large-star/small-star failed to converge in 64 rounds")
    // At fixpoint every component is a star rooted at its minimum: a
    // non-root node's single out-edge is its label; roots label
    // themselves. min() guards the (never-observed) multi-edge case.
    nodes.join(e.groupBy(col("u").as("node")).agg(min(col("v")).as("l")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("l"), col("node")).as("label"))
  }

  /** SimHash fingerprint width in bits: 4 bands × 16 bits. 16-bit bands
    * give 65,536 buckets per band, so expected bucket occupancy stays
    * ~n/65,536 per band — the previous 8-bit bands (256 buckets) made the
    * banded self-join O(n²/256) at any real corpus size.
    */
  val SimhashBits = 64
  val SimhashBands = 4
  private val BandBits = SimhashBits / SimhashBands

  /** X4 — near-duplicate pairs via 64-bit SimHash over distinct 2-word
    * shingles: bit k of band j is the majority vote of bit k across the
    * per-shingle 16-bit hash chunks (hex digits 4j+1..4j+4 of one md5).
    * Shingles, not unigrams: on a small shared vocabulary every
    * document's token SET looks alike and unigram SimHash collapses;
    * shingle sets discriminate. Candidates share one of the four 16-bit
    * bands; verified by Hamming ≤ `maxHamming` computed as
    * Σ bit_count(bandA xor bandB) — four codegen'd instructions replacing
    * the previous 32 interpreted per-character substring compares.
    * The fingerprint never needs 64-bit assembly (DuckDB BIGINT overflow
    * errors on bit 63); the four 16-bit band ints ARE the fingerprint.
    * Output: doc_a, doc_b, hamming.
    */
  def nearDupSimhash(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    nearDupSimhashFromChunks(simhashChunks(docs), maxHamming)

  /** Per-doc DISTINCT simhash chunk rows (doc_id, c0..c3) — the simhash
    * half of the signature store: a pure per-document function (each
    * shingle's md5 split into four 16-bit chunks), computed at ingest
    * and persisted at scale. Votes are per DISTINCT shingle: dedup on
    * the int chunks (cheaper shuffle than distinct md5 strings, same
    * sets modulo a 2⁻⁶⁴ within-doc collision the oracle mirrors
    * exactly).
    */
  def simhashChunks(docs: DataFrame): DataFrame = {
    val chunkCols = (0 until SimhashBands).map { j =>
      conv(substring(md5(col("s").cast("binary")), j * 4 + 1, 4), 16, 10)
        .cast("int").as(s"c$j")
    }
    shingleRows(docs)
      .select(col("doc_id") +: chunkCols: _*)
      .distinct()
  }

  /** Per-doc simhash FINGERPRINTS (doc_id, band0..band3) — the majority
    * vote collapsed from [[simhashChunks]]: band j bit k set iff a
    * strict majority of the doc's distinct shingles set it (2·ones > n;
    * ties → 0, the sign(Σ±1) convention). A pure per-document function
    * of the chunk store — THE at-rest form a pipeline persists (4 ints
    * per doc vs a chunk row per shingle), so probes skip the 64-bit-sum
    * aggregate entirely (r17; the minhashBands store discipline).
    */
  def simhashFingerprints(chunks: DataFrame): DataFrame = {
    val bitSums = for (j <- 0 until SimhashBands; k <- 0 until BandBits)
      yield sum(shiftright(col(s"c$j"), k).bitwiseAND(lit(1))).as(s"s_${j}_$k")
    val agg = chunks.groupBy("doc_id").agg(count(lit(1)).as("n"), bitSums: _*)
    val bandCols = (0 until SimhashBands).map { j =>
      (0 until BandBits).map { k =>
        when(col(s"s_${j}_$k") * 2 > col("n"), lit(1 << k)).otherwise(lit(0))
      }.reduce(_ + _).as(s"band$j")
    }
    agg.select(col("doc_id") +: bandCols: _*)
  }

  /** [[nearDupSimhash]] over a precomputed [[simhashChunks]] frame —
    * the signature-store probe form. `fingerprints` (a persisted
    * [[simhashFingerprints]] store) skips the majority-vote aggregate.
    */
  def nearDupSimhashFromChunks(chunks: DataFrame, maxHamming: Int = 6,
      fingerprints: Option[DataFrame] = None): DataFrame = {
    val fp = fingerprints.getOrElse(simhashFingerprints(chunks))
    val bandRefs = (0 until SimhashBands).map(j => col(s"band$j"))
    val banded = fp.select(col("doc_id") +: bandRefs :+
      posexplode(array(bandRefs: _*)).as(Seq("band_idx", "band_val")): _*)
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(Seq(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")) ++
        (0 until SimhashBands).flatMap(j =>
          Seq(col(s"a.band$j").as(s"a$j"), col(s"b.band$j").as(s"b$j"))): _*)
      .distinct()
    val hamming = (0 until SimhashBands)
      .map(j => bit_count(col(s"a$j").bitwiseXOR(col(s"b$j"))))
      .reduce(_ + _)
    pairs
      .withColumn("hamming", hamming)
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Character n-gram length of the char-gram Jaccard family
    * ([[charGramSets]], [[ngramJaccardBanded]]). FIVE, not three, and the
    * choice is a scale wall, not taste: the normalized alphabet is
    * [a-z0-9 ] (37 symbols), so the 3-gram universe is ≤ 37³ ≈ 5·10⁴
    * values — it CANNOT grow with the corpus, so past ~10⁵ documents
    * every gram posting list grows ∝ n and gram-sharing candidate volume
    * grows ~n²/universe: the r12 sf10 run measured 83×/decade
    * (14.7 s → 1224 s) on the 3-gram plan. The 5-gram universe is 37⁵ ≈
    * 6.9·10⁷ — 1,400× the headroom — and, more fundamentally, the
    * OCCUPIED gram set now grows with corpus content (new documents
    * bring new 5-grams where every 3-gram is already taken). Grams pack
    * into one BIGINT (ascii·256ᵏ positional code, max ≈ 5.3·10¹¹ ≪ 2⁶³
    * — portable to any engine; a length above 7 would overflow it).
    *
    * A larger universe is necessary but NOT sufficient: a corpus whose
    * token vocabulary is itself tiny occupies few grams at ANY n, so
    * gram-sharing candidates stay dense — the regime where
    * [[ngramJaccardBanded]] draws candidates from similarity-bounded
    * minhash banding instead (see its scaladoc for the measured
    * comparison).
    */
  val GramLen = 5

  /** Per-doc sorted BIGINT-encoded char-[[GramLen]]-gram sets (doc_id,
    * lang, grams) — the char-gram half of the signature store, a PURE
    * per-document function: each stored array element is the
    * packed-ASCII gram code alone, sorted by VALUE, with no corpus-level
    * statistic baked in. That purity is the store's incremental
    * contract — `charGramSets(newDocs)` unioned onto a store persisted at
    * any earlier time probes identically to a fresh one-shot build
    * (pinned by SignatureStoreSpec's banded mixed-era case).
    * Threshold-independent too: the threshold enters only the probe's
    * pair residual, so ONE store serves probes at any threshold (the
    * former length-bucket column baked `1/threshold` into the schema and
    * tied the store to its build threshold).
    */
  def charGramSets(docs: DataFrame): DataFrame = {
    val parallelism =
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // Normalize once, filter on the cheap scalar (length ≥ GramLen ⟺
    // grams non-empty — a filter on size(grams) would be pushed below the
    // exchange with the gram expression inlined, recreating the
    // per-element-recompute trap), round-robin repartition so the gram
    // arrays materialize once per document on all cores, THEN build grams
    // from the shuffled attribute.
    // `s` is wrapped in coalesce so the WHOLE gram chain below is
    // non-nullable. This is load-bearing, not hygiene: null-intolerant
    // uses downstream (a join condition, an explode) make the optimizer
    // derive `isnotnull(grams)`, and for a NULLABLE grams that
    // filter is pushed below the repartition exchange with the transform
    // inlined — and `s` inlined into the lambda as the full normalize
    // regex, re-evaluated PER GRAM ELEMENT (O(len²) interpreted regex per
    // doc per side; measured 240 s vs 3 s at sf0.1). A non-nullable
    // expression generates no isnotnull constraint at all.
    val base = docs
      .select(col("doc_id"), col("lang"),
        coalesce(TextOps.normalized(col("text")), lit("")).as("s"))
      .where(length(col("s")) >= GramLen)
      .repartition(parallelism)
    // Sorted distinct grams, numerically encoded (the normalized
    // alphabet is ASCII, so an n-gram packs positionally into
    // Σ ascii(cₖ)·256^(n−1−k) — one BIGINT per gram): sorting and
    // merging fixed-width integers skips per-comparison string overhead
    // entirely, and sorted distinct input lets the verification use the
    // codegen'd linear-merge SortedIntersectSize instead of per-pair hash
    // sets (|A ∪ B| = |A| + |B| − |A ∩ B| for sets).
    //
    // Built RELATIONALLY (posexplode positions → codegen'd substr/ascii →
    // collect_set), NOT with `transform(sequence(...), ...)`: higher-order
    // functions are CodegenFallback, and this one interpreted lambda was
    // the last non-codegen step on the query's hot path — its JIT
    // warm-up alone swung fresh-JVM runs 2.4 s ↔ 20 s at sf0.1. As a
    // Generate + projection the per-char work lives in whole-stage
    // codegen, and the aggregate output is non-nullable by construction
    // (no isnotnull(grams) constraint — see trap note above).
    // Positional base-256 packing, spelled as one explicit sum so the
    // multipliers are compile-time literals on both engines.
    val packed = (0 until GramLen).map { k =>
      val mult = (0 until (GramLen - 1 - k)).foldLeft(1L)((m, _) => m * 256L)
      ascii(col("s").substr(col("i") + k, lit(1))).cast("long") * lit(mult)
    }.reduce(_ + _)
    val dg = base
      .select(col("doc_id"), col("lang"), col("s"),
        posexplode(sequence(lit(1), length(col("s")) - (GramLen - 1)))
          .as(Seq("ord", "i")))
      .select(col("doc_id"), col("lang"), packed.as("gram"))
      .distinct()
    dg.groupBy("doc_id", "lang")
      .agg(array_sort(collect_set(col("gram"))).as("grams"))
  }

  /** Signature width / band count of the char-gram MINHASH BANDING
    * channel ([[ngramJaccardBanded]]): 96 signatures in 16 bands of 6.
    * The (r = 6, b = 16) point is chosen for a HIGH threshold over a
    * DENSE similarity background: candidate probability is
    * 1 − (1 − J⁶)¹⁶ ≈ 99.2% at J = 0.8 (→ 99.99% at J = 0.9) while a
    * background pair at J = 0.2 fires at ~0.1% — the 2-row shingle
    * banding (tuned for threshold 0.5) would fire on ~25% of J = 0.2
    * background pairs, which on a dense corpus IS the pair space.
    */
  val GramSigCount = 96
  val GramBandCount = 16

  /** Char-gram minhash BAND table (doc_id, lang, n, band_idx,
    * band_val): [[GramSigCount]] universal-hash minhash signatures over
    * the stored gram codes (the grams are already 60-bit-safe BIGINTs,
    * so the permutation family applies to them directly — no second
    * hashing pass), packed [[GramBandCount]] ways via md5 of the
    * band's comma-joined signatures ([[hash60]] — 6 sigs × 31 bits
    * exceed one BIGINT, and md5 packing is bit-identical in every
    * engine where a modular polynomial would overflow DuckDB). A pure
    * per-document function of the [[charGramSets]] store — computable
    * at probe time or persisted beside it; either way batch-by-batch
    * equals one-shot (SignatureStoreSpec). `n` (the distinct gram
    * count) rides along from the same aggregate for the size-ratio
    * residual.
    */
  def gramMinhashBands(g: DataFrame): DataFrame = {
    val rows = GramSigCount / GramBandCount
    val ex = g.select(col("doc_id"), col("lang"), explode(col("grams")).as("gram"))
    val aggs = count(lit(1)).as("n") +:
      perms(GramSigCount).zipWithIndex.map { case ((a, b), i) =>
        min((lit(a) * (col("gram") % Prime) + lit(b)) % Prime).as(s"sig$i")
      }
    val sig = ex.groupBy("doc_id", "lang").agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until GramBandCount).map { j =>
      hash60(concat_ws(",",
        (0 until rows).map(r => col(s"sig${j * rows + r}").cast("string")): _*))
    }
    sig.select(col("doc_id"), col("lang"), col("n"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
  }

  /** Gram band-collision pairs worth verifying at `threshold`: id
    * order, same lang, and the lossless size-ratio bound — Jaccard ≤
    * min/max of the set sizes, so Jaccard ≥ t needs each side ≥ t × the
    * other. Both products are nudged down 1e-9 so a binary-FP product
    * such as 0.8·55 = 44.000000000000007 cannot drop a boundary pair
    * whose truncated Jaccard still passes verification.
    */
  private def gramPair(threshold: Double): (Side, Side) => Column =
    (a, b) => selfPair(a, b) && a("lang") === b("lang") &&
      a("n") >= lit(threshold) * b("n") - lit(1e-9) &&
      b("n") >= lit(threshold) * a("n") - lit(1e-9)

  /** X4 — BANDED char-n-gram Jaccard, the plan behind `ngram_jaccard`:
    * candidates from [[gramMinhashBands]] collisions ([[gramPair]]),
    * verified by [[scoredPairs]]' exact [[SortedIntersectSize]] merge
    * over the stored gram arrays. Output: doc_a, doc_b, jaccard
    * (truncated 6dp).
    *
    * WHY banding and not gram-sharing candidates (r13, measured): a
    * prefix filter (AllPairs/PPJoin — Bayardo et al. WWW'07) is
    * lossless but CONTENT-bounded — its candidate volume is Σ over
    * prefix grams of posting², which is small exactly when most grams
    * are rare. On a corpus with a small token vocabulary (this synthetic
    * corpus: 31 tokens, ~2k occupied 5-grams per cipher copy, median
    * gram df = 292 of 5,000 docs) there ARE no rare grams even with the
    * 5-gram universe ([[GramLen]]), and the prefix plan measured 7.6M
    * candidates for 790 true pairs at sf1 — linear per decade but with
    * a ~10,000× verification overhead whose array shuffle (~50 GB+ at
    * sf10) is the disk wall. Banding is SIMILARITY-bounded instead: a
    * pair's candidate probability is 1 − (1 − J^r)^b regardless of how
    * much vocabulary it shares, so background J ≈ 0.2 pairs fire at
    * ~0.1% and candidate volume tracks the near-dup mass. The trade,
    * documented: recall at the 0.8 threshold is ≈ 99.2% (not 100%),
    * rising to ~1 above it — the [[nearDupMinhash]] class of contract,
    * and the DuckDB oracle mirrors the banding exactly so the declared
    * query stays hash-checkable.
    */
  def ngramJaccardBanded(g: DataFrame, threshold: Double = 0.8,
      bands: Option[DataFrame] = None): DataFrame = {
    // A persisted gram BAND store ([[gramMinhashBands]] — "computable at
    // probe time or persisted beside it") skips the 96-permutation
    // min-aggregate, which otherwise runs on BOTH sides of the band
    // self-join every probe.
    val bd = bands.getOrElse(gramMinhashBands(g))
    verified(scoredPairs(bandedCandidates(bd, 0, gramPair(threshold)),
      g.select(col("doc_id"), col("grams").as("sh"))), "jaccard", jaccard, threshold)
  }
}
