package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up synthesizer — builds an sf1-equivalent (~10×)
  * dataset from the sf0.1 seed ENTIRELY inside Spark, for the scale-up
  * validation run (VERDICT r9 "Next round" #1). No RNG: copy `i` of each
  * fact/dim row is the seed row with its keys shifted by `i × stride`
  * (stride = the seed table's dense key-domain size), so every foreign
  * key lands on the same-copy parent and all join/aggregate semantics of
  * the seed replay exactly, 10× over. Per-copy content transforms keep
  * the INTRA-copy statistics of the seed while preventing spurious
  * CROSS-copy duplicates (which would turn a 10× corpus into a 90%-dup
  * corpus and measure a different regime than "10× more data"):
  *
  *   - `documents.text`: every token gets a `_i` suffix for copy i>0 —
  *     token/shingle sets become disjoint across copies, so the seed's
  *     dup-rate and group-size distribution is preserved at 10× rows
  *     (what a real 10× crawl looks like), not inflated to all-dups.
  *   - `embeddings.embedding`: the vector is ROTATED by `(i·7) mod 64`
  *     positions — norm-preserving, deterministic, and rotated copies
  *     decorrelate, so ANN cell occupancy grows ~10× instead of every
  *     cell holding 10 identical points.
  *   - names (`c_name`/`p_name`/`s_name`) get a `-i` suffix so
  *     name-keyed ops (fuzzy match blocking, dim dedup) keep one
  *     distinct name per key.
  *
  * region/nation stay fixed (TPC-H semantics: they never scale), which
  * is exactly what makes the BHJ-vs-SMJ flip observable: bounded dims
  * stay broadcastable at any sf while customer/supplier cross the
  * autoBroadcast threshold.
  *
  * Writes one parquet dir per table under the target dir (same layout
  * the Tables loader expects). Usage:
  *   SPARK_GRAFT_SCALE_FACTOR=10 sbt "runMain graft.ScaleUp"
  */
object ScaleUp {
  // Dense 0-based key-domain sizes of the sf0.1 seed (verified against
  // the data: max key + 1).
  private val strides = Map(
    "orders" -> 150000L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "events" -> 100000L, "user" -> 1500L,
    "documents" -> 5000L, "embeddings" -> 2000L)

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DST", "/root/repo/scale-data/sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    write(spark, src, dst, factor)
    spark.stop()
  }

  def write(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    // Optional table subset (comma-separated) — the BHJ→SMJ flip capture
    // only needs the relational star at factor 100, not a 500k-doc corpus.
    val wanted = sys.env.get("SPARK_GRAFT_SCALE_TABLES").map(_.split(",").toSet)
    // File counts scale with the factor past 10× (unchanged at the sf1
    // factor, so existing artifacts stay reproducible): a fixed 8-file
    // artifact at factor 1000 caps every downstream scan at 8-way
    // parallelism (parquet splits by row group, but a 35 MB file is one
    // partition) — the r15 sf100 ANN campaign measured the Lloyd
    // cross-join running on 8 of 32 cores from exactly this. At 100 TB
    // the analogous knob is writing ingest artifacts with
    // cluster-proportional file counts.
    def save(name: String, df: => DataFrame, files: Int): Unit =
      if (wanted.forall(_.contains(name))) {
        val scaled = math.min(files * math.max(1, factor / 10), 256)
        df.repartition(scaled).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      }
    // Fixed dims: copy through unchanged.
    for (t <- Seq("region", "nation") if wanted.forall(_.contains(t)))
      Tables(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    save("customer", replicate(spark, src, "customer", factor) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * strides("customer")))
        .withColumn("c_name", suffixed(col("c_name"), i))
    }, 8)
    save("supplier", replicate(spark, src, "supplier", factor) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * strides("supplier")))
        .withColumn("s_name", suffixed(col("s_name"), i))
    }, 4)
    save("part", replicate(spark, src, "part", factor) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * strides("part")))
        .withColumn("p_name", suffixed(col("p_name"), i))
    }, 8)
    save("orders", replicate(spark, src, "orders", factor) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * strides("orders")))
        .withColumn("o_custkey", col("o_custkey") + lit(i * strides("customer")))
    }, 16)
    save("lineitem", replicate(spark, src, "lineitem", factor) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * strides("orders")))
        .withColumn("l_partkey", col("l_partkey") + lit(i * strides("part")))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * strides("supplier")))
    }, 32)
    save("events", replicate(spark, src, "events", factor) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * strides("events")))
        .withColumn("user_id", col("user_id") + lit(i * strides("user")))
    }, 16)
    save("documents", replicate(spark, src, "documents", factor) { (df, i) =>
      // Copy i>0 runs through a per-copy AFFINE LETTER CIPHER
      // (x → a·x + b mod 26 with a coprime to 26 — 312 distinct
      // permutations, deterministic, bijective). The cipher alone is
      // the whole decorrelation mechanism as of r13:
      //   - TOKEN level: cipher_i is a bijection on tokens, so each
      //     copy replays the seed's 2-word-shingle structure exactly
      //     over a (near-)disjoint token universe — distinct ciphers
      //     map every letter-bearing token differently, so cross-copy
      //     token identity is accidental-collision noise only.
      //   - CHARACTER level: any alphabet bijection maps char-gram
      //     sets 1:1, so intra-copy gram Jaccard equals the seed's
      //     and cross-copy gram sets decorrelate to corpus background
      //     (measured 0.00–0.01 at factor 10).
      //
      // History — two generator artifacts found and removed here, each
      // caught because a scale run measured a regime the seed corpus
      // does not have:
      //   r12: a per-copy "_i"/letter SUFFIX alone decorrelated tokens
      //     but left ~50% cross-copy char-gram sharing (suffixed
      //     tokens keep every interior gram of their seed token) —
      //     the factor-100 run drove ngram_jaccard's candidate join
      //     into ~80 GB of spill and a disk-full abort while the true
      //     output stayed flat. The cipher fixed cross-copy sharing.
      //   r13: the retained suffix ("q"+base-26 letters appended to
      //     every token) inflated INTRA-copy char-gram density — the
      //     fixed per-copy suffix makes ~40% of every token window a
      //     shared subsequence, measured as within-copy background
      //     gram-J of 0.5–0.7 at sf1 vs the seed's 0.1–0.2 (pair-J
      //     histograms), again a regime no real 10× crawl has.
      //     The suffix is GONE: the cipher already provides cross-copy
      //     token disjointness, and cipher-only copies replay the
      //     seed's intra-copy statistics at both levels exactly.
      //
      // KNOWN LIMITS of the decorrelation claim (ADVICE r12) — both are
      // corpus/factor-dependent, not general guarantees:
      //   - LETTERS ONLY: digits, punctuation and whitespace pass
      //     through, so char-grams containing non-letters stay shared
      //     across every copy of a numeric/symbol-heavy doc (this
      //     corpus is letter-word soup — measured negligible); a
      //     digit-heavy seed corpus would need the map extended.
      //   - ONLY 312 DISTINCT AFFINE CIPHERS exist (12 coprime slopes ×
      //     26 offsets). r14 (third-decade sf100 check needs factor
      //     1000): copies ≥ 312 switch to keyed FISHER-YATES letter
      //     permutations (LCG-seeded, deterministic — 26! distinct
      //     maps), with a driver-side distinctness require over ALL
      //     copies' alphabets. Copies < 312 keep the affine form, so
      //     every existing sf1/sf10 artifact regenerates byte-identical.
      //     Single-letter tokens still pigeonhole into 26 images at any
      //     factor — that is the REAL shared-common-token background
      //     the r13 adjudication kept (BASELINE.md r13), not an
      //     artifact; full-map collisions (which would plant exact
      //     cross-copy duplicates) are what the require excludes.
      val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
      def cipher(n: Int): String =
        if (n < 312) {
          val a = coprimes((n / 26) % coprimes.size)
          val b = n % 26
          (0 until 26).map(x => ('a' + (a * x + b) % 26).toChar).mkString
        } else {
          // Keyed Fisher-Yates over 'a'..'z': one LCG stream per copy
          // (splitmix-style constants), pure driver-side arithmetic.
          val arr = ('a' to 'z').toArray
          var s = n.toLong * 6364136223846793005L + 1442695040888963407L
          def next(bound: Int): Int = {
            s = s * 6364136223846793005L + 1442695040888963407L
            ((s >>> 33) % bound).toInt
          }
          for (k <- 25 to 1 by -1) {
            val j = next(k + 1)
            val t = arr(k); arr(k) = arr(j); arr(j) = t
          }
          new String(arr)
        }
      require((0 until factor).map(cipher).distinct.size == factor,
        s"cipher collision at factor $factor would plant exact cross-copy duplicates")
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val text = if (i == 0) col("text")
        else translate(col("text"), alpha + alpha.toUpperCase,
          cipher(i) + cipher(i).toUpperCase)
      df.withColumn("doc_id", col("doc_id") + lit(i * strides("documents")))
        .withColumn("text", text)
    }, 16)
    save("embeddings", replicate(spark, src, "embeddings", factor) { (df, i) =>
      val rot = (i * 7) % 64
      val rotated = if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, 64 - rot),
          slice(col("embedding"), 1, rot))
      // Rotation alone has PERIOD 64: at factor > 64 copies i and i+64
      // carry IDENTICAL vectors, so a factor-1000 corpus holds ~16 exact
      // copies of every direction — k-means then collapses cells onto the
      // point-clusters (the r15 sf100 campaign measured 1829 of 10 000
      // cells surviving at occupancy ~1100 vs the 200 design point,
      // inflating every Sigma|cell|² consumer ~6×). Copies past the first
      // rotation period therefore ALSO get a deterministic per-copy SIGN
      // mask — a diagonal ±1 orthogonal transform: norms and all
      // WITHIN-copy cosines are exactly preserved (the corpus statistics
      // being replayed), while cross-copy collisions need rotation AND
      // mask to agree (2⁶⁴ mask space — effectively never). i < 64 is
      // untouched, so factor ≤ 64 artifacts (sf1) reproduce bit-for-bit.
      val emb = if (i < 64) rotated
        else {
          val bits = 0x9E3779B97F4A7C15L * (i / 64) ^ 0xBF58476D1CE4E5B9L * (i + 1)
          val signs = Array.tabulate(64)(j =>
            if (((bits * (2 * j + 1)) >>> 63) == 1L) -1.0f else 1.0f)
          zip_with(rotated, lit(signs), (x, s) => x * s)
        }
      df.withColumn("vec_id", col("vec_id") + lit(i * strides("embeddings")))
        .withColumn("embedding", emb)
    }, 8)
  }

  /** factor key-shifted copies of the seed table, unioned by name.
    * BALANCED pairwise reduction, not a left fold: a left-deep union of
    * 1000 children (the r14 sf100 factor) is a depth-1000 analyzer
    * recursion — stack-overflow territory — while the balanced tree is
    * depth ⌈log2(factor)⌉ with the same left-to-right child order, so
    * the flattened Union (and every written artifact) is identical. */
  private def replicate(spark: SparkSession, src: String, name: String,
      factor: Int)(remap: (DataFrame, Int) => DataFrame): DataFrame = {
    val seed = Tables(spark, src, name)
    var layer = (0 until factor).map(i => remap(seed, i)).toVector
    while (layer.size > 1)
      layer = layer.grouped(2).map(g => g.reduce(_.unionByName(_))).toVector
    layer.head
  }

  /** `name` → `name-i` for copy i>0; identity on copy 0. */
  private def suffixed(c: Column, i: Int): Column =
    if (i == 0) c else concat(c, lit(s"-$i"))
}
