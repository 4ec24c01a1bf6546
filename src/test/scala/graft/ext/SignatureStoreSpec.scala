package graft.ext

import java.nio.file.Files

import graft.SparkSpec

/** The signature-store halves are persisted parquet at scale; these
  * specs assert each probe form produces identical results whether fed
  * the in-session frame or its parquet round trip. This is not hygiene:
  * a parquet round trip flips columns nullable, and the char-gram
  * pipeline's scaladoc documents how a nullable gram column resurrects
  * the isnotnull-pushdown O(len²) trap — equality here proves the probe
  * forms are round-trip safe.
  */
class SignatureStoreSpec extends SparkSpec {

  private val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  private def roundTrip(df: org.apache.spark.sql.DataFrame, name: String) = {
    val dir = Files.createTempDirectory(s"graft-store-$name").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  // Multiset comparison: rows collected as sorted strings. A plain
  // collect().toSet would mask row-multiplicity differences — a store
  // path that emitted duplicate pairs would still pass (ADVICE r17 #4).

  test("minhash hr store: parquet round trip probes identically") {
    val hr = Dedup.hashedShingleRows(docs)
    val direct = Dedup.nearDupMinhashFromHashes(hr).collect().toSeq.map(_.toString).sorted
    val viaParquet = Dedup.nearDupMinhashFromHashes(roundTrip(hr, "hr"))
      .collect().toSeq.map(_.toString).sorted
    assert(viaParquet === direct)
  }

  test("simhash chunk store: parquet round trip probes identically") {
    val ch = Dedup.simhashChunks(docs)
    val direct = Dedup.nearDupSimhashFromChunks(ch).collect().toSeq.map(_.toString).sorted
    val viaParquet = Dedup.nearDupSimhashFromChunks(roundTrip(ch, "simhash"))
      .collect().toSeq.map(_.toString).sorted
    assert(viaParquet === direct)
  }

  test("char-gram store: banded probe round trip + mixed era ≡ one-shot banded") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // The banded channel's signatures/bands are pure per-doc functions
    // of the stored gram arrays, so a parquet round trip and a
    // mixed-era (append) store must both probe exactly like a fresh
    // one-shot build. The hazard the mixed era pins (VERDICT r11 #4):
    // a store with a corpus statistic baked into its encoding (the r11
    // df·2²⁴+gram layout) mixes eras here, breaks gram equality across
    // them, and silently loses pairs. Era 1 is parquet round-tripped
    // like the at-rest store.
    val oneShot = Dedup.ngramJaccardBanded(Dedup.charGramSets(docs))
      .collect().toSeq.map(_.toString).sorted
    val viaParquet = Dedup.ngramJaccardBanded(
      roundTrip(Dedup.charGramSets(docs), "grams-banded")).collect().toSeq.map(_.toString).sorted
    assert(viaParquet === oneShot)
    val base = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val fresh = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val mixed = roundTrip(Dedup.charGramSets(base), "grams-banded-era1")
      .unionByName(Dedup.charGramSets(fresh))
    assert(Dedup.ngramJaccardBanded(mixed).collect().toSeq.map(_.toString).sorted === oneShot)
  }

  test("k-shingle store: parquet round trip probes identically") {
    val sh = Corpus.shingleHashes(docs, Corpus.DecontamShingle).distinct()
    val direct = Corpus.duplicatedSpansFromHashes(sh).collect().toSeq.map(_.toString).sorted
    val viaParquet = Corpus.duplicatedSpansFromHashes(roundTrip(sh, "k8"))
      .collect().toSeq.map(_.toString).sorted
    assert(viaParquet === direct)
    val novDirect = Corpus.shingleNoveltyFromHashes(sh).collect().toSeq.map(_.toString).sorted
    val novParquet = Corpus.shingleNoveltyFromHashes(roundTrip(sh, "k8n"))
      .collect().toSeq.map(_.toString).sorted
    assert(novParquet === novDirect)
  }

  test("shingle-set store: probing stored sets ≡ candidate-filtered rebuild") {
    // r17: verification joins read the persisted (doc_id, sh) half of
    // the signature store instead of re-aggregating candidate shingle
    // sets per query. Sets are a per-doc pure function, so the stored
    // form (parquet round-tripped like the at-rest table) must verify
    // bit-identically across the whole probe family.
    val hr = Dedup.hashedShingleRows(docs)
    val sets = roundTrip(Dedup.shingleSets(hr), "sets")
    assert(Dedup.nearDupMinhashFromHashes(hr, sets = Some(sets)).collect().toSeq.map(_.toString).sorted
      === Dedup.nearDupMinhashFromHashes(hr).collect().toSeq.map(_.toString).sorted)
    assert(Dedup.containmentNearDupFromHashes(hr, sets = Some(sets)).collect().toSeq.map(_.toString).sorted
      === Dedup.containmentNearDupFromHashes(hr).collect().toSeq.map(_.toString).sorted)
    assert(Dedup.containmentNearDupStratifiedFromHashes(hr, sets = Some(sets))
      .collect().toSeq.map(_.toString).sorted
      === Dedup.containmentNearDupStratifiedFromHashes(hr).collect().toSeq.map(_.toString).sorted)
    import org.apache.spark.sql.functions.lit
    assert(Dedup.nearDupLookup(Dedup.minhashBands(hr), hr, lit(true),
      storeSets = Some(sets)).collect().toSeq.map(_.toString).sorted
      === Dedup.nearDupLookup(Dedup.minhashBands(hr), hr, lit(true)).collect().toSeq.map(_.toString).sorted)
  }

  test("char-gram band store: probing stored bands ≡ probe-time banding") {
    // r17: the 96-permutation gram minhash bands persist beside the gram
    // sets; the banded probe must be identical fed either form.
    val g = Dedup.charGramSets(docs)
    val bands = roundTrip(Dedup.gramMinhashBands(g), "gbands")
    assert(Dedup.ngramJaccardBanded(g, bands = Some(bands)).collect().toSeq.map(_.toString).sorted
      === Dedup.ngramJaccardBanded(g).collect().toSeq.map(_.toString).sorted)
  }

  test("simhash fingerprint store: probing stored fingerprints ≡ chunk vote") {
    // r17: the 4-int majority-vote fingerprint is the persisted form;
    // probing it must equal voting from the chunk store at probe time.
    val ch = Dedup.simhashChunks(docs)
    val fp = roundTrip(Dedup.simhashFingerprints(ch), "simfp")
    assert(Dedup.nearDupSimhashFromChunks(ch, fingerprints = Some(fp))
      .collect().toSeq.map(_.toString).sorted
      === Dedup.nearDupSimhashFromChunks(ch).collect().toSeq.map(_.toString).sorted)
  }

  test("manifest keeper-label store: probing labels equals recomputing") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val corpus = docs.where(pmod(col("doc_id"), lit(20)) =!= 0)
    val bench = docs.where(pmod(col("doc_id"), lit(20)) === 0)
    val cold = Corpus.corpusManifest(corpus, bench).collect().toSeq.map(_.toString).sorted
    // The store contract: labels computed over EXACTLY the manifest's
    // keeper set (filter-then-dedup), parquet round-tripped like the
    // at-rest label table would be.
    val keepIds = Corpus.qualityFilter(corpus)
      .where(col("reasons") === "").select("doc_id")
    val labels = Dedup.dupGroupsFromHashes(
      Dedup.hashedShingleRows(docs).join(keepIds, "doc_id"))
    val warm = Corpus.corpusManifest(corpus, bench,
      keeperLabels = Some(roundTrip(labels, "mlabels"))).collect().toSeq.map(_.toString).sorted
    assert(warm === cold)
  }
}
