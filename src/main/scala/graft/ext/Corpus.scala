package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Ckpt.SerCkptOps

/** Corpus-preparation operators over the `documents` table — the
  * remaining plumbing of an LLM-training-data pipeline around the dedup
  * ([[Dedup]]) and text-quality ([[TextOps]]) families: deterministic
  * dataset splitting, overlapping chunking, salient-term extraction, and
  * per-language profiling.
  *
  * Scale design (100 TB): every operator here is either a pure map over
  * documents (split, chunks — embarrassingly parallel, zero shuffle) or a
  * bounded number of hash aggregates on keys that grow with the corpus
  * (tf_idf on (doc, term) / term, profile on lang) — no self-joins, no
  * driver-side data movement. Cross-engine determinism follows the
  * house rules: md5 for hash parity, integer arithmetic wherever
  * possible, floor-truncation (never `round`) for oracle-compared doubles,
  * and no `log()` (JVM `Math.log` is only 1-ulp-accurate, not correctly
  * rounded, so its results are not guaranteed bit-identical to libm's).
  */
object Corpus {

  /** Deterministic train/val/test assignment: bucket = md5(doc_id) mod
    * 100, split by percentile thresholds. Hash-based (not random-number)
    * splitting is the scale idiom: assignment is reproducible run-over-
    * run, stable under corpus growth (old docs never migrate splits when
    * new docs arrive), needs no seed coordination across executors, and
    * joins back to any other per-doc table without storing the split.
    * Output: doc_id, lang, bucket, split.
    */
  def datasetSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"invalid split percentages ($trainPct, $valPct)")
    docs
      .select(col("doc_id"), col("lang"),
        (Dedup.hash60(col("doc_id").cast("string")) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Token window length and stride for [[docChunks]]: 64-token chunks
    * every 48 tokens = 16 tokens of overlap, the context-window packing
    * shape (overlap preserves cross-boundary n-grams for training).
    */
  val ChunkSize = 64
  val ChunkStride = 48

  /** Overlapping token-window chunking: split each document into
    * [[ChunkSize]]-token windows starting every [[ChunkStride]] tokens;
    * the last window is the one that first covers the tail (no trailing
    * sub-windows fully contained in their predecessor). Emits chunk
    * digests, not chunk text — at 100 TB the chunk table is larger than
    * the corpus, so downstream consumers re-slice from the document
    * store by (doc_id, chunk_no) and the digest is the integrity key.
    * Output: doc_id, chunk_no, n_chunk_tokens, chunk_md5.
    *
    * Plan shape: pure map + Generate (posexplode of a chunk-count
    * sequence), zero shuffle. The slice/concat runs on the `toks`
    * attribute carried through the Generate — evaluated once per
    * document row, not per chunk (the HOF-recompute trap does not bite:
    * there is no lambda, and Generate copies required child output per
    * emitted row instead of re-evaluating it).
    */
  def docChunks(docs: DataFrame): DataFrame = {
    val c = ChunkSize
    val s = ChunkStride
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      // n ≤ C → one chunk; else first index i with i·S + C ≥ n, plus one.
      .withColumn("n_chunks",
        when(col("n_tokens") <= c, lit(1L))
          .otherwise(expr(s"(n_tokens - $c + $s - 1) div $s") + 1L))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0L), col("n_chunks") - 1L)).as(Seq("ord", "chunk_no")))
      .withColumn("chunk",
        slice(col("toks"), (col("chunk_no") * s + 1).cast("int"), lit(c)))
      .select(
        col("doc_id"),
        col("chunk_no"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_md5"))
  }

  /** Per-document salient terms: top-`k` tokens by a TF·IDF-style score,
    * score = tf · N / df with N the corpus size and df the term's
    * document frequency. The IDF is the LINEAR ratio N/df, not
    * log(N/df): ranking is identical (log is monotone) and the linear
    * form is exact IEEE arithmetic on integers — bit-identical in every
    * engine, where `log` differs in the last ulp between JVM and libm.
    * Output: doc_id, term, tf, df, score, rank (1..k by score desc,
    * term asc).
    *
    * Plan shape: explode → (doc, term) hash aggregate → term-level
    * aggregate for df → one broadcast-able join back (df table = corpus
    * vocabulary, bounded by the token space, shrinks relative to the
    * corpus as it grows) → per-doc window top-k. The corpus count N
    * joins in as a 1-row broadcast, never a driver round-trip.
    */
  def tfIdf(docs: DataFrame, k: Int = 5): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val score = TextOps.trunc6((col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rank")
  }

  /** Per-language corpus profile: document count, median and p90
    * whitespace-token counts, mean and max character lengths — the
    * summary a pipeline checkpoints before/after each filter stage.
    * Percentiles are DISCRETE (value at rank ⌈p·n⌉ in (value, doc_id)
    * order): integer-exact and engine-portable, where interpolated
    * percentiles hinge on each engine's interpolation arithmetic
    * agreeing to the last ulp. Output: lang, n_docs, med_tokens,
    * p90_tokens, avg_chars, max_chars.
    *
    * Plan shape: one shuffle on lang for the rank window, reused by the
    * final aggregate (same key, exchange reuse) — at 100 TB lang has
    * low cardinality, so the window sort runs on few large partitions;
    * if a profile key were high-skew the [[SaltedJoin]]-style two-level
    * aggregate is the drop-in.
    */
  /** Shingle width for [[decontaminate]]: 8 consecutive tokens, the
    * benchmark-decontamination convention — long enough that a match is
    * evidence of copied text, not shared vocabulary.
    */
  val DecontamShingle = 8

  /** Benchmark decontamination: flag corpus documents sharing any
    * [[DecontamShingle]]-token shingle with a benchmark/eval set — the
    * filter every training pipeline runs so held-out benchmarks don't
    * leak into training data. Output: doc_id, n_shared_shingles (distinct
    * shared shingles), for contaminated documents only.
    *
    * Scale design: the benchmark side is small by nature (eval sets are
    * MB-scale against a 100 TB corpus), so its distinct shingle-hash set
    * is BROADCAST — the corpus side is a pure map (tokenize → slice →
    * hash) into a broadcast-hash semi-join, zero corpus shuffle until the
    * per-doc count aggregate over only the matching rows. Shingles are
    * compared as [[Dedup.hash60]] longs, never strings.
    */
  /** k-token shingle hashes as rows (doc_id, h) — the docChunks Generate
    * pattern: posexplode the start positions, slice from the carried
    * token array (copied per emitted row by Generate, not re-evaluated).
    * Documents with fewer than k tokens contribute no rows. Shared by
    * [[decontaminate]] and [[shingleNovelty]].
    */
  def shingleHashes(df: DataFrame, k: Int): DataFrame =
    df.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(1), size(col("toks")) - (k - 1))).as(Seq("ord", "i")))
      .select(col("doc_id"),
        Dedup.hash60(concat_ws(" ", slice(col("toks"), col("i"), lit(k)))).as("h"))

  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      k: Int = DecontamShingle): DataFrame = {
    val bench = broadcast(shingleHashes(benchmark, k).select("h").distinct())
    // Join BEFORE the distinct: the broadcast-hash join filters the
    // corpus's shingle stream map-side, so the only rows that ever
    // shuffle are the (rare) matches — a distinct over all corpus
    // shingles first would shuffle the whole corpus's shingle set.
    shingleHashes(corpus, k)
      .join(bench, "h")
      .distinct() // (doc_id, h): count each shared shingle once per doc
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** [[decontaminate]] probing a DISTINCT (doc_id, h) k-shingle store
    * split into its corpus and benchmark sides. The store being already
    * distinct collapses the in-query distinct to a no-op semantically;
    * the benchmark's hash set still broadcasts so the corpus side is a
    * map-side semi-join.
    */
  def decontaminateFromHashes(corpusSh: DataFrame, benchSh: DataFrame): DataFrame =
    corpusSh
      .join(broadcast(benchSh.select("h").distinct()), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))

  /** Gopher-style repetition signals: per-document duplicate-bigram
    * fraction (1 − distinct/total) and most-frequent-bigram fraction —
    * the "is this document mostly the same phrase repeated" quality
    * signals. Documents with fewer than two tokens have no bigrams and
    * are omitted. Output: doc_id, n_bigrams, n_distinct_bigrams,
    * dup_bigram_frac, top_bigram_frac (floor-truncated 4dp).
    *
    * Plan shape: the shared shingle pipeline (one doc_id window shuffle)
    * → (doc, bigram) count → per-doc aggregate. Both aggregates hash on
    * keys that grow with the corpus; nothing is quadratic and nothing
    * leaves codegen.
    */
  def repetitionScore(docs: DataFrame): DataFrame =
    Dedup.shingleRows(docs)
      .groupBy("doc_id", "s").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max("c").as("max_c"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        TextOps.trunc4((col("n_bigrams") - col("n_distinct_bigrams")) /
          col("n_bigrams").cast("double")).as("dup_bigram_frac"),
        TextOps.trunc4(col("max_c") / col("n_bigrams").cast("double"))
          .as("top_bigram_frac"))

  /** Repeated-span detection — the word-shingle approximation of exact
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": long verbatim spans repeated across a crawl
    * are boilerplate/templates and should be trimmed or down-weighted).
    * A span is a [[DecontamShingle]]-token shingle; a doc's duplicated
    * fraction is the share of its DISTINCT spans that also occur in at
    * least one other document. Output: doc_id, n_spans, n_shared_spans,
    * dup_span_frac (floor-truncated 4dp); docs with fewer than k tokens
    * have no spans and are omitted.
    *
    * Scale design: per-doc distinct span hashes (one (doc_id, h)
    * aggregate with map-side combine), then ONE exchange on the span
    * hash serves both the cross-doc occurrence count (window count over
    * h) and feeds straight into the per-doc aggregate — no self-join, no
    * candidate explosion; every stage is key-partitioned and linear in
    * corpus shingle volume. The suffix-array construction of the paper
    * doesn't distribute; the hashed-shingle inventory is the Spark-native
    * shape with the same boilerplate-detection outcome at k-token
    * granularity.
    */
  /** Per-batch span-occurrence summary backing the streaming twin of
    * [[duplicatedSpans]]: (h, n_docs) with n_docs = distinct docs in
    * `docs` carrying span h. Provided documents arrive WHOLE (one doc
    * never splits across batches — the [[graft.streaming.StreamingOps]]
    * document-atomic ingest contract), per-batch counts merge by
    * ADDITION ([[spanStoreMerge]]), so any batch cut equals the one-shot
    * summary of the union.
    */
  def spanCounts(docs: DataFrame, k: Int = DecontamShingle): DataFrame =
    shingleHashes(docs, k).distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))

  /** Fold a batch's [[spanCounts]] into the persisted store: union +
    * re-sum — associative and commutative, the [[graft.ext.Sketches]]
    * merge discipline.
    */
  def spanStoreMerge(store: DataFrame, batch: DataFrame): DataFrame =
    store.unionByName(batch).groupBy("h")
      .agg(sum("n_docs").as("n_docs"))

  def duplicatedSpans(docs: DataFrame, k: Int = DecontamShingle): DataFrame =
    duplicatedSpansFromHashes(shingleHashes(docs, k).distinct())

  /** [[duplicatedSpans]] over a precomputed DISTINCT (doc_id, h)
    * k-shingle store — the store probe form.
    */
  def duplicatedSpansFromHashes(sh: DataFrame): DataFrame = {
    val withOcc = sh.withColumn("n_docs",
      count(lit(1)).over(Window.partitionBy("h")))
    withOcc.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_shared_spans"),
        TextOps.trunc4(col("n_shared_spans") / col("n_spans").cast("double"))
          .as("dup_span_frac"))
  }

  /** Corpus bigram-LM quality proxy — the KenLM-style fluency filter
    * without an external model: score each document by the average
    * corpus-wide CONDITIONAL frequency of its bigram instances,
    * cond(w₁ w₂) = count(w₁ w₂) / count(w₁ ·) over the whole corpus.
    * High = transitions the corpus has seen often (fluent, in-domain);
    * low = rare transitions (gibberish, wrong language, OCR noise) —
    * the per-doc `min_cond` additionally pinpoints the single weakest
    * transition. Documents with fewer than two tokens are omitted.
    * Output: doc_id, n_bigrams, avg_cond, min_cond (truncated 6dp).
    *
    * Determinism: each cond is ONE IEEE division of two exact longs
    * (engine-identical), truncated to 6dp; the per-doc mean weights the
    * per-(doc, bigram) distinct row by its instance count and sums in
    * DECIMAL — associative, so partitioning/run/engine invariant (the
    * [[Similarity.labelCentroids]] discipline).
    *
    * Scale: the count tables are the standard distributed LM-count job
    * — two hash aggregates whose key spaces grow with the vocabulary,
    * map-side combined; the instance table aggregates to per-(doc,
    * bigram) rows BEFORE joining the counts, so the join shuffles the
    * compressed form. Nothing quadratic, nothing interpreted.
    */
  /** (doc_id, w, nxt) adjacent-token rows — `nxt` null on each doc's
    * last token — as ONE codegen'd Generate + projection over the token
    * array: `nxt` is `get(tokens, pos + 1)` read straight out of the
    * carried array (ANSI-safe null past the end), so adjacency costs
    * ZERO exchanges. The former formulation windowed `lead(w) OVER
    * (PARTITION BY doc_id ORDER BY pos)`, which exchanged + sorted the
    * ENTIRE token stream once per call site — the dominant cost of both
    * consumers at 10× scale (sf1 measured bigram_lm_score at 8.2× for
    * 10× data; adjacency is a per-doc-local fact and should never have
    * shuffled at all).
    */
  private def adjacentTokenRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
      .select(col("doc_id"), col("__tk"), posexplode(col("__tk")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("w"), get(col("__tk"), col("pos") + 1).as("nxt"))

  def bigramLmScore(docs: DataFrame): DataFrame = {
    // (doc_id, w1, w2) instance rows. Three aggregates consume `bi`;
    // each re-derives the tokenize + Generate pipeline rather than
    // materializing it — deliberate: the pipeline is exchange-free and
    // codegen'd, so re-running it is cheaper at scale than checkpointing
    // the full bigram-instance stream to disk.
    val bi = adjacentTokenRows(docs)
      .where(col("nxt").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("nxt").as("w2"))
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val m = bi.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
    m.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("cond6", TextOps.trunc6(col("c2").cast("double") / col("c1")))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("cond6").cast("decimal(20,10)") * col("m")).as("sc"),
        min(col("cond6")).as("min_cond"))
      .select(col("doc_id"), col("n_bigrams"),
        TextOps.trunc6(col("sc").cast("double") / col("n_bigrams")).as("avg_cond"),
        col("min_cond"))
  }

  /** Corpus collocation extraction: the top-`k` bigrams by LIFT —
    * `lift(w₁, w₂) = P(w₁ w₂) / (P(w₁)·P(w₂))` with probabilities as
    * instance frequencies — the "fixed phrases" of a corpus (named
    * entities, idioms, templated boilerplate), the standard PMI
    * collocation ranking: PMI = log lift and log is monotone, so
    * ranking by the RATIONAL lift avoids cross-engine transcendental
    * drift entirely (the [[tfIdf]] linear-IDF precedent). Pairs seen
    * fewer than `minCount` times are gated out — a hapax pair's lift
    * is degenerate (maximal by construction). Output: w1, w2, n_pair,
    * lift (truncated 6dp), rank.
    *
    * One tokenize pass feeds everything: the posexplode+lead rows yield
    * unigram counts, bigram counts and both totals. The final ranking
    * runs on the `minCount`-gated pair table via TakeOrdered (top-k per
    * partition, never a global sort), and the rank window sees only the
    * k survivors. Count joins are plain equi-joins AQE sizes at
    * runtime; nothing is pinned broadcast.
    */
  /** First iteration of BPE tokenizer training at corpus scale: the k
    * most frequent ADJACENT CHARACTER pairs, each occurrence weighted by
    * its word's corpus frequency — the pair the trainer would merge
    * first (Sennrich et al. 2016's counting step; iterating = re-running
    * over the merged symbol stream).
    *
    * Scale shape: pair counting runs over the DISTINCT-WORD table (Zipf:
    * orders of magnitude smaller than the token stream) with the word
    * count as weight, so the explode touches |vocab| × avg_len rows, not
    * corpus × avg_len; both aggregates are map-side combinable and the
    * final top-k is a TakeOrdered, never a global sort.
    */
  def bpeMerges(docs: DataFrame, k: Int = 20): DataFrame = {
    val words = docs
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    words.where(length(col("w")) >= 2)
      .select(col("wc"), explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("wc").cast("long").as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)
  }

  def collocations(docs: DataFrame, k: Int = 20, minCount: Long = 5): DataFrame = {
    // One zero-shuffle adjacency pass feeds unigram counts (all w),
    // pair counts and both totals (see [[adjacentTokenRows]]).
    val rows = adjacentTokenRows(docs)
    val u = rows.groupBy("w").agg(count(lit(1)).as("u"))
    val nt = rows.agg(count(lit(1)).as("nt"))
    val bi = rows.where(col("nxt").isNotNull)
    val c2 = bi.groupBy(col("w").as("w1"), col("nxt").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
    val nb = bi.agg(count(lit(1)).as("nb"))
    // Left-associated multiply/divide chain, mirrored textually in the
    // oracle so the IEEE rounding sequence is identical.
    val lift = TextOps.trunc6(col("n_pair").cast("double") *
      col("nt") / col("u1") * col("nt") / col("u2") / col("nb"))
    val top = c2
      .join(u.select(col("w").as("w1"), col("u").as("u1")), "w1")
      .join(u.select(col("w").as("w2"), col("u").as("u2")), "w2")
      .crossJoin(nt).crossJoin(nb)
      .withColumn("lift", lift)
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
    top
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("lift").desc, col("w1"), col("w2"))).cast("long"))
      .select("w1", "w2", "n_pair", "lift", "rank")
  }

  /** Pre-training data MIXING: down-sample each source to hit a target
    * TOKEN mixture — the "data recipe" step that turns raw per-source
    * availability into the proportions a training run actually wants.
    * Given target weights w_s, the op computes the LARGEST corpus
    * consistent with the mixture without repeating data: scale
    * K = min_s(tokens_s / w_s) (the binding source keeps everything),
    * per-source keep rate = w_s·K / tokens_s, and a deterministic
    * per-document hash gate at 10⁻⁶ resolution (the [[stratifiedSample]]
    * recipe, finer-grained) applies it. Sources absent from `weights`
    * are dropped (weight 0). Upsampling beyond availability is epoch
    * repetition — the trainer's job, not the corpus op's. Output:
    * doc_id, source, n_tokens, bucket, keep.
    *
    * Determinism: rates are two IEEE divisions and a multiply of exact
    * long counts, mirrored textually in the oracle; the gate compares
    * an integer hash bucket to floor(rate·10⁶), so the kept SET is a
    * pure function of the corpus and the weights — reproducible,
    * stable under re-runs, joinable back to any per-doc table. The
    * binding source's rate may floor to 999999/10⁶ (one-in-a-million
    * shave) — both engines compute the identical gate.
    *
    * Scale: one token-count scan, a |sources|-row aggregate + broadcast
    * back, zero shuffles of the corpus itself.
    */
  def mixCorpus(docs: DataFrame, weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive; omit a source to drop it")
    val ss = docs.sparkSession
    import ss.implicits._
    val wDf = weights.toSeq.toDF("source", "wt")
    val base = docs.select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val tot = base.join(broadcast(wDf), "source")
      .groupBy("source", "wt").agg(sum("n_tokens").as("tok"))
    val kfac = tot.agg(min(col("tok").cast("double") / col("wt")).as("kfac"))
    val rates = tot.crossJoin(kfac)
      .select(col("source"),
        least(lit(1.0), col("wt") * col("kfac") / col("tok").cast("double"))
          .as("rate"))
    base.join(broadcast(rates), "source")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (Dedup.hash60(concat(col("source"), lit(":"), col("doc_id").cast("string")))
          % 1000000L).as("bucket"),
        col("rate"))
      .withColumn("keep", col("bucket") < floor(col("rate") * 1000000L))
      .select("doc_id", "source", "n_tokens", "bucket", "keep")
  }

  /** Deterministic stratified sampling by `source`: per-document hash
    * bucket (salted with the stratum so buckets are independent across
    * strata), kept when bucket < the stratum's percentage — `overrides`
    * per source, `defaultPct` elsewhere. The hash-based form has the same
    * properties as [[datasetSplit]]: reproducible, stable under corpus
    * growth, joinable back to any per-doc table, no seed coordination —
    * and it is a pure map (zero shuffle), so re-weighting a 100 TB corpus
    * by source is one scan. Output: doc_id, source, lang, bucket.
    */
  /** Quality-WEIGHTED sampling: each document survives with probability
    * equal to its quality score — the soft alternative to a hard
    * quality threshold (low-quality text is downsampled, not erased;
    * the FineWeb-style mixing move). The coin is `hash60(doc_id) mod
    * 10⁶ < round(score·10⁶)` — the score is trunc4, so the ppm weight
    * is integer-exact, the gate is pure integer comparison on both
    * engines, and re-running reproduces the same sample bit-for-bit.
    *
    * Scale: the textStats pass (one scan, pure map) joined back on
    * doc_id, then a codegen'd filter — zero extra shuffles beyond the
    * doc_id join, which AQE broadcasts when stats are computed on a
    * filtered slice and runs as SMJ at corpus scale.
    */
  def weightedSample(docs: DataFrame): DataFrame = {
    val q = TextOps.textStats(docs).select(col("doc_id"), col("quality_score"))
    docs.select("doc_id", "source", "lang")
      .join(q, "doc_id")
      .withColumn("w_ppm", expr("CAST(round(quality_score * 1000000) AS BIGINT)"))
      .where(Dedup.hash60(col("doc_id").cast("string")) % 1000000 < col("w_ppm"))
      .select("doc_id", "source", "lang", "w_ppm")
  }

  def stratifiedSample(docs: DataFrame, defaultPct: Int = 20,
      overrides: Map[String, Int] = Map.empty): DataFrame = {
    require(defaultPct >= 0 && defaultPct <= 100 &&
      overrides.values.forall(p => p >= 0 && p <= 100), "percentages must be 0..100")
    // Build the per-row rate via chained when(): overrides are a handful
    // of literals, so this stays one codegen'd case expression.
    val rate = overrides.foldLeft(lit(defaultPct): org.apache.spark.sql.Column) {
      case (acc, (src, pct)) => when(col("source") === src, lit(pct)).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("source"), col("lang"),
        (Dedup.hash60(concat(col("source"), lit(":"), col("doc_id").cast("string")))
          % 100).as("bucket"))
      .where(col("bucket") < rate)
  }

  /** Composite Gopher-style quality FILTER: the keep/drop verdict a
    * training pipeline applies after computing the raw signals
    * ([[TextOps.textStats]] + [[repetitionScore]]). A document is kept
    * iff it fails no rule; failed rule names are reported (stable order,
    * comma-joined) so downstream can audit per-rule kill rates. Rules
    * (thresholds are the standard heuristic shapes, parameterized):
    * too_short / too_long (token count), token_len (mean token length
    * outside [minAvgLen, maxAvgLen]), punct (punctuation ratio),
    * no_stopword (zero English stopword hits — the Gopher "must contain
    * stop words" rule), dup_bigram / top_bigram (repetition fractions).
    * Output: doc_id, n_tokens, avg_token_len, punct_ratio,
    * dup_bigram_frac, top_bigram_frac, reasons, keep.
    *
    * Plan shape: two per-doc branches — textStats (pure map) and
    * repetitionScore (two hash aggregates) — joined on doc_id; documents
    * without bigrams left-join to zero fractions. Verdict logic is one
    * codegen'd case chain; nothing here adds a shuffle beyond the
    * repetition aggregates themselves. At 100 TB the filter composes
    * with [[stratifiedSample]]/[[datasetSplit]] as pure per-doc maps
    * over checkpointed signal tables.
    */
  def qualityFilter(docs: DataFrame,
      minTokens: Int = 20, maxTokens: Int = 100000,
      minAvgLen: Double = 2.0, maxAvgLen: Double = 10.0,
      maxPunct: Double = 0.3,
      maxDupBigram: Double = 0.2, maxTopBigram: Double = 0.2): DataFrame = {
    val stats = TextOps.textStats(docs)
      .select("doc_id", "n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio")
    val rep = repetitionScore(docs)
      .select(col("doc_id"), col("dup_bigram_frac"), col("top_bigram_frac"))
    // concat_ws skips NULLs (in both engines), so each rule contributes
    // its name only when it fires and `reasons` is '' for clean docs.
    val reasons = concat_ws(",",
      when(col("n_tokens") < minTokens, "too_short"),
      when(col("n_tokens") > maxTokens, "too_long"),
      when(col("avg_token_len") < minAvgLen || col("avg_token_len") > maxAvgLen,
        "token_len"),
      when(col("punct_ratio") > maxPunct, "punct"),
      when(col("stopword_ratio") === 0.0, "no_stopword"),
      when(col("dup_bigram_frac") > maxDupBigram, "dup_bigram"),
      when(col("top_bigram_frac") > maxTopBigram, "top_bigram"))
    stats.join(rep, Seq("doc_id"), "left")
      .na.fill(0.0, Seq("dup_bigram_frac", "top_bigram_frac"))
      .withColumn("reasons", reasons)
      .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
        col("punct_ratio"), col("dup_bigram_frac"), col("top_bigram_frac"),
        col("reasons"), (col("reasons") === "").as("keep"))
  }

  /** Training-sequence length and shard count for [[packSequences]]. */
  val SeqLen = 1024
  val PackShards = 8

  /** Deterministic sequence packing: concatenate documents in doc_id
    * order within each hash shard and cut the stream into fixed
    * [[SeqLen]]-token training sequences — the "pack documents into
    * context windows" step that turns a filtered corpus into model
    * input. Each document's placement is summarized by its token offset
    * within the shard stream and the first/last sequence it lands in
    * (a document spanning a boundary contributes to both sequences —
    * standard causal-LM packing with cross-doc attention masking left
    * to the trainer). Output: shard, doc_id, n_tokens, start_offset,
    * seq_first, seq_last.
    *
    * Scale design: packing is inherently sequential, so it is made
    * PARALLEL BY SHARDING — the deterministic hash shard bounds each
    * running-sum window to 1/[[PackShards]] of the corpus, and shards
    * scale with the cluster (at 100 TB, thousands of shards = thousands
    * of independent window partitions; the shard is also the natural
    * output-file key). Within a shard the only cost is one window
    * cumsum over integers — exact, reproducible, engine-portable.
    */
  def packSequences(docs: DataFrame, seqLen: Int = SeqLen,
      shards: Int = PackShards): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
    docs
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        (Dedup.hash60(col("doc_id").cast("string")) % shards).as("shard"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("shard"), col("doc_id"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_offset"),
        expr(s"(cum - n_tokens) div $seqLen").as("seq_first"),
        expr(s"(cum - 1) div $seqLen").as("seq_last"))
  }

  /** Vocabulary size for [[vocabCoverage]]: top-N corpus tokens. */
  val VocabSize = 32

  /** Per-document vocabulary coverage / OOV rate against the corpus
    * top-[[VocabSize]] token vocabulary (count desc, token asc — the
    * deterministic [[TextOps.wordFreq]] ranking). The tokenizer-fit
    * signal of a training pipeline: documents with high OOV fractions
    * against the working vocabulary are flagged for review or re-
    * tokenization. Output: doc_id, n_tokens, n_in_vocab, oov_frac.
    *
    * Plan shape: the vocabulary is a bounded top-k (TakeOrderedAndProject
    * → k rows) BROADCAST to a map-side hash join against the exploded
    * token stream, then one per-doc aggregate — the corpus never
    * shuffles for the lookup, exactly the decontaminate shape with the
    * vocabulary standing in for the benchmark side.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = VocabSize): DataFrame = {
    val vocab = broadcast(
      TextOps.wordFreq(docs, vocabSize).select(col("token"), lit(1).as("in_v")))
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .join(vocab, Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_v"), lit(0))).as("n_in_vocab"))
      .select(col("doc_id"), col("n_tokens"), col("n_in_vocab"),
        TextOps.trunc4((col("n_tokens") - col("n_in_vocab")) /
          col("n_tokens").cast("double")).as("oov_frac"))
  }

  /** Per-document shingle NOVELTY: the fraction of a document's distinct
    * [[DecontamShingle]]-token shingles whose FIRST occurrence (minimum
    * doc_id) is this document — the cross-document repetition signal
    * that catches boilerplate and template text which per-document
    * repetition ([[repetitionScore]]) cannot see. Documents with fewer
    * than k tokens have no shingles and are omitted. Output: doc_id,
    * n_shingles, n_novel, novelty_frac.
    *
    * Plan shape: distinct (doc, shingle-hash) rows → a window `min` over
    * h for the first-seen owner → per-doc aggregate. The window form
    * computes the shingle stream ONCE (a self-join formulation scans and
    * re-shingles the corpus twice, and at toy scale the planner even
    * broadcasts the corpus-sized first-seen table); all keys are 60-bit
    * longs, every exchange key space grows with the corpus, nothing is
    * broadcast — at 100 TB this is three shuffles of the shingle stream
    * (dedup, h-window, doc rollup), the canonical "global n-gram table"
    * shape.
    */
  def shingleNovelty(docs: DataFrame, k: Int = DecontamShingle): DataFrame =
    shingleNoveltyFromHashes(shingleHashes(docs, k).distinct())

  /** [[shingleNovelty]] over a precomputed DISTINCT (doc_id, h) k-shingle
    * store — the store probe form.
    */
  def shingleNoveltyFromHashes(sh: DataFrame): DataFrame = {
    sh.withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        TextOps.trunc4(col("n_novel") / col("n_shingles").cast("double"))
          .as("novelty_frac"))
  }

  /** End-to-end corpus MANIFEST: the per-document keep/drop decision
    * table a training pipeline materializes before export — the
    * composition of the whole prep family. A document is dropped for any
    * of: failing a [[qualityFilter]] rule (the rule names carry over),
    * being a non-survivor exact duplicate (`exact_dup` — [[Dedup.exact]]
    * keeps the smallest doc_id per content key), belonging to a MinHash
    * near-dup group without being its representative (`near_dup` — the
    * [[Dedup.dupGroups]] min-id convention, so exactly one doc per group
    * survives), or sharing an 8-token shingle with the benchmark set
    * (`contaminated` — [[decontaminate]]). Output: doc_id, reasons, keep.
    *
    * Order matters: dedup runs over the QUALITY KEEPERS only
    * (filter-then-dedup, the standard pipeline order and the
    * [[graft.streaming.StreamingOps.corpusIngestStream]] contract).
    * This is not just cost — if a group's min-id representative itself
    * failed quality, deduping before filtering would drop every copy of
    * that content; filtering first re-elects the smallest SURVIVING doc
    * as representative, so each content cluster with any clean copy
    * keeps exactly one. Contamination is independent and applies to all.
    *
    * Plan shape: four per-doc verdict tables left-joined on doc_id — each
    * component keeps its own documented scale shape; the joins are
    * doc_id-partitioned merges of corpus-sized but narrow (id + flag)
    * frames. At 100 TB each component would be checkpointed and the
    * manifest is one multi-way join on the stored tables.
    */
  /** @param qualityVerdicts the persisted quality-verdict slice for
    *   `corpus` (`doc_id`, `reasons`) — the narrow at-rest table the
    *   scaladoc above names as what a pipeline materializes. When
    *   supplied, the manifest probes it instead of re-running the
    *   quality scan per read (r18; qualityFilter is per-doc pure, so a
    *   full-corpus store filtered by the corpus ids is exact). The
    *   quality scan itself stays a measured path via the standalone
    *   `quality_filter` query.
    * @param contentKeys the persisted exact-dup content-key slice for
    *   `corpus` (`doc_id`, `content_key` — [[Dedup.contentKey]], per-doc
    *   pure; the key table [[Dedup.exact]]'s scaladoc describes as the
    *   at-rest artifact). When supplied, survivor election reads it
    *   restricted to the quality keepers — no corpus text re-scan.
    */
  def corpusManifest(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.5,
      signatureStore: Option[DataFrame] = None,
      kShingleStore: Option[DataFrame] = None,
      keeperLabels: Option[DataFrame] = None,
      qualityVerdicts: Option[DataFrame] = None,
      contentKeys: Option[DataFrame] = None): DataFrame = {
    // The NARROW verdict table (id + reasons) is what gets materialized —
    // never a full-text copy of the corpus (at 100 TB the verdict table
    // is the thing you can afford to persist; corpus re-reads are pruned
    // and columnar).
    val q = qualityVerdicts
      .map(_.select(col("doc_id"), col("reasons").as("q_reasons")))
      .getOrElse(qualityFilter(corpus)
        .select(col("doc_id"), col("reasons").as("q_reasons"))
        .serCkpt)
    val keepIds = q.where(col("q_reasons") === "").select("doc_id")
    // Only the store-less fallbacks re-derive the keeper texts; with
    // every store supplied no full-text frame is touched at all.
    def kept = corpus.join(keepIds, "doc_id")
    // ONE shared normalize/shingle pass over the keepers, checkpointed
    // as two narrow derived tables: the exact-dup content keys and the
    // 2-word shingle hashes. Without these, exact and the minhash
    // pipeline each re-derived `kept` (corpus scan + verdict join +
    // normalize/tokenize) per consumer — and the banded self-join
    // consumes the shingle subtree on BOTH sides, so the shingle scan
    // alone re-ran three times per manifest. At scale these checkpoints
    // are exactly the signature store written at ingest
    // ([[Dedup.minhashBands]]' contract), not extra state.
    val keyed = contentKeys
      .map(_.join(keepIds, Seq("doc_id"), "left_semi"))
      .getOrElse(kept.select(col("doc_id"),
        Dedup.contentKey(col("text")).as("content_key"))
        .serCkpt)
    val survivors = Dedup.exactByKey(keyed)
      .select(col("doc_id"), lit(true).as("is_survivor"))
    // Near-dup labels are over the KEEPER set (the filter-then-dedup
    // contract above). A caller that maintains a label store for THIS
    // manifest configuration ([[Dedup.dupGroupsFromHashes]] over the
    // keeper-restricted signature store — the dedup job's primary
    // at-rest artifact) passes it as `keeperLabels`, and the manifest
    // skips candidate generation + verification + the CC iteration
    // entirely. The full-corpus label store is NOT a substitute: a
    // quality-failed doc can bridge two keeper components, and a
    // non-keeper min-id would steal a group's representative.
    val groups = keeperLabels
      .map(_.select(col("doc_id"), col("group_id")))
      .getOrElse {
        // hr is a per-doc pure function, so a caller-provided signature
        // store restricted to the keepers is EXACTLY
        // hashedShingleRows(kept) without re-tokenizing (the keeper-id
        // side broadcasts).
        val hr = signatureStore
          .map(_.join(keepIds, "doc_id"))
          .getOrElse(Dedup.hashedShingleRows(kept))
          .serCkpt
        Dedup.dupGroupsFromHashes(hr, threshold)
          .select(col("doc_id"), col("group_id"))
      }
    // With a k-shingle store over the FULL document set, both decontam
    // sides are store-filtered by id (exact: per-doc pure function)
    // instead of re-shingling their texts.
    val contam = kShingleStore
      .map { st =>
        decontaminateFromHashes(
          st.join(corpus.select("doc_id"), "doc_id"),
          st.join(benchmark.select("doc_id"), "doc_id"))
      }
      .getOrElse(decontaminate(corpus, benchmark))
      .select(col("doc_id"), lit(true).as("contaminated"))
    q.join(survivors, Seq("doc_id"), "left")
      .join(groups, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("reasons", concat_ws(",",
        when(col("q_reasons") =!= "", col("q_reasons")),
        // Dedup verdicts exist only for quality keepers: a quality-failed
        // doc is absent from `kept`, which must not read as exact_dup.
        when(col("q_reasons") === "" && col("is_survivor").isNull, "exact_dup"),
        when(col("group_id").isNotNull && col("group_id") =!= col("doc_id"), "near_dup"),
        when(col("contaminated").isNotNull, "contaminated")))
      .select(col("doc_id"), col("reasons"), (col("reasons") === "").as("keep"))
  }

  /** Sharded JSONL export — the standard interchange format of LLM
    * training corpora (one JSON object per line, gzip, one directory per
    * deterministic hash shard). The shard column is the same stable
    * [[Dedup.hash60]] bucketing as [[packSequences]], so export shards
    * align with packing shards; `repartition(shard)` makes each shard
    * exactly one task's output (at 100 TB: raise `shards`, not file
    * counts per shard — the layout stays one-level). Side-effecting
    * sink, spec-verified by round-trip ([NQ] per SURVEY §2 conventions).
    */
  def exportJsonl(docs: DataFrame, path: String, shards: Int = PackShards): Unit =
    docs
      .withColumn("shard", Dedup.hash60(col("doc_id").cast("string")) % shards)
      .repartition(col("shard"))
      .write.partitionBy("shard").mode("overwrite")
      .option("compression", "gzip")
      .json(path)

  /** Pinned-schema JSONL source — the read half of [[exportJsonl]] and
    * the interchange ingest path. The payload schema is PINNED for the
    * same reason as the CSV path (graft.sources.CsvIngest): JSON
    * inference is a second full read of the corpus whose result drifts
    * with the data. The `shard` partition column comes from the
    * directory names, typed by the appended field.
    */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.types.StructType(schema.fields :+
        org.apache.spark.sql.types.StructField("shard",
          org.apache.spark.sql.types.LongType, nullable = true)))
      .json(path)

  /** RefinedWeb-style line-level dedup — remove LINES (not documents)
    * that repeat across more than `maxDocs` distinct documents: nav
    * bars, cookie banners, license footers — boilerplate that exact and
    * near-dup DOC dedup both miss because the host document differs.
    * The corpus's text carries no newlines, so a "line" is a
    * non-overlapping window of `lineTokens` normalized tokens (the
    * [[docChunks]] windowing with stride = size); a pipeline over real
    * crawl text would split on '\n' first and feed the same
    * frequency/filter/reassemble core. Output: doc_id, clean_text (kept
    * lines rejoined in order, '' when everything was boilerplate),
    * n_lines, n_removed.
    *
    * Scale: line construction is a pure map + Generate (zero shuffle);
    * the doc-frequency table is one hash aggregate on the line string
    * whose key space is the DISTINCT line set (boilerplate compresses:
    * the more a line repeats, the fewer rows per instance it costs);
    * the flag join is line-keyed and unhinted — AQE broadcasts the
    * frequency table while it is small, SMJ at scale; reassembly is one
    * per-doc aggregate sorting each doc's own lines in memory (bounded
    * by doc length). Nothing corpus-quadratic anywhere.
    */
  val LineTokens = 2
  val LineMaxDocs = 20

  def lineDedup(docs: DataFrame, lineTokens: Int = LineTokens,
      maxDocs: Int = LineMaxDocs): DataFrame = {
    val k = lineTokens
    val lines = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("n_lines",
        greatest(expr(s"(size(toks) + $k - 1) div $k"), lit(1L)))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0L), col("n_lines") - 1L))
          .as(Seq("ord", "line_no")))
      .select(col("doc_id"), col("line_no"),
        concat_ws(" ",
          slice(col("toks"), (col("line_no") * k + 1).cast("int"), lit(k)))
          .as("line"))
    val lineDf = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("line_df"))
    lines
      .join(lineDf, "line")
      .withColumn("kept", col("line_df") <= maxDocs)
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("line_no"), col("line"))))),
          s => s.getField("line"))).as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"))
  }

  def corpusProfile(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id"), col("lang"),
      regexp_count(col("text"), lit("\\S+")).cast("long").as("ws_tokens"),
      length(col("text")).cast("long").as("n_chars"))
    val byLang = Window.partitionBy("lang")
    val ranked = base
      .withColumn("rk", row_number().over(byLang.orderBy(col("ws_tokens"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(byLang))
    ranked.groupBy("lang")
      .agg(
        max(col("n")).as("n_docs"),
        max(when(col("rk") === ceil(col("n") * 0.5), col("ws_tokens"))).as("med_tokens"),
        max(when(col("rk") === ceil(col("n") * 0.9), col("ws_tokens"))).as("p90_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        count(lit(1)).as("cnt"),
        max(col("n_chars")).as("max_chars"))
      .select(col("lang"), col("n_docs"), col("med_tokens"), col("p90_tokens"),
        TextOps.trunc4(col("sum_chars").cast("double") / col("cnt")).as("avg_chars"),
        col("max_chars"))
  }
}
