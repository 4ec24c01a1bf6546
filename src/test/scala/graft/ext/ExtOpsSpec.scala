package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.DotProduct
import graft.functions.DotProductSpec.hofCosine

/** Extension-operator specs on tiny literal frames. */
class ExtOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  test("exact dedup keeps the smallest doc_id per normalized content") {
    val d = docs(
      (1L, "Hello, World!", "en"),
      (2L, "hello   world", "en"), // same after normalization
      (3L, "different", "en"))
    val out = Dedup.exact(d).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(out.head.getLong(2) === 2L) // group_size
  }

  test("minhash near-dup finds a planted near-duplicate and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base.replace("today", "tomorrow")
    val other = "completely unrelated words about spark catalyst tungsten codegen"
    val out = Dedup.nearDupMinhash(docs((1L, base, "en"), (2L, nearDup, "en"), (3L, other, "en")))
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(out.head.getDouble(2) > 0.5)
  }

  test("simhash near-dup flags identical shingle sets at hamming 0") {
    val out = Dedup.nearDupSimhash(docs(
      (1L, "Alpha beta, gamma delta echo foxtrot!", "en"),
      (2L, "alpha beta gamma delta echo foxtrot", "en"), // same after normalization
      (3L, "totally different words entirely here now", "en")))
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq === Seq((1L, 2L, 0)))
  }

  test("ngram banded pairs ⊆ naive lang-only pairs, identical Jaccard") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // threshold 0.5: size ratios span a wide band, exercising the
    // size-ratio residual arithmetic with a non-trivial result set.
    // Naive side rebuilds the GramLen=5 packed codes independently
    // (positional base-256, BIGINT).
    val banded = Dedup.ngramJaccardBanded(Dedup.charGramSets(d), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val norm = coalesce(TextOps.normalized(col("text")), lit("")).as("s")
    val packed = (0 until 5).map { k =>
      val mult = (0 until (4 - k)).foldLeft(1L)((m, _) => m * 256L)
      ascii(col("s").substr(col("i") + k, lit(1))).cast("long") * lit(mult)
    }.reduce(_ + _)
    val g = d.select(col("doc_id"), col("lang"), norm)
      .where(length(col("s")) >= 5)
      .select(col("doc_id"), col("lang"), col("s"),
        posexplode(sequence(lit(1), length(col("s")) - 4)).as(Seq("ord", "i")))
      .select(col("doc_id"), col("lang"), packed.as("gram"))
      .groupBy("doc_id", "lang")
      .agg(array_sort(collect_set(col("gram"))).as("grams"))
    val inter = graft.functions.SortedIntersectSize(col("a.grams"), col("b.grams"))
    val jac = floor(inter / (size(col("a.grams")) + size(col("b.grams")) - inter)
      .cast("double") * 1000000) / 1000000
    val naive = g.as("a")
      .join(g.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id") &&
          jac >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id"), jac)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty)
    // Banding trades recall for similarity-bounded candidates: every
    // banded pair is a naive pair with the identical Jaccard, and a pair
    // far above the threshold (J ≥ 0.95, miss ≤ (1 − 0.95⁶)¹⁶ ≈ 6e-10)
    // is never lost.
    assert(banded.subsetOf(naive))
    val sure = naive.filter(_._3 >= 0.95)
    assert(sure.nonEmpty && sure.subsetOf(banded))
  }

  test("language-ID picks the profile with most stopword hits") {
    val out = TextOps.langId(docs(
      (1L, "the cat sat on the mat and it is happy", "en"),
      (2L, "el perro y la casa de un amigo que es grande", "es")))
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(2)).toSeq === Seq("en", "es"))
    assert(out.forall(_.getBoolean(3)))
  }

  test("DotProduct.cosine matches a hand-computed value and handles edge cases") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // orthogonal → 0
      (2L, Array(1.0f, 2.0f), Array(2.0f, 4.0f)),   // parallel → 1
      (3L, Array(0.0f, 0.0f), Array(1.0f, 1.0f)))   // zero norm → null
      .toDF("id", "a", "b")
    val out = df.select(col("id"), DotProduct.cosine(col("a"), col("b")).as("c"))
      .orderBy("id").collect()
    assert(math.abs(out(0).getDouble(1)) < 1e-12)
    assert(math.abs(out(1).getDouble(1) - 1.0) < 1e-12)
    assert(out(2).isNullAt(1))
  }

  test("DotProduct.cosine is bitwise equal to the HOF formulation on real embeddings") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("embedding").as("b")))
      .where(col("ia") < col("ib"))
      .select(DotProduct.cosine(col("a"), col("b")).as("dot"), hofCosine("a", "b").as("hof"))
    assert(pairs.count() > 0L)
    assert(pairs.where(col("dot").isNull).count() === 0L)
    assert(pairs.where(!(col("dot") <=> col("hof"))).count() === 0L)
  }

  test("ANN top-k returns k ranked neighbors per probe, IVF restricted to the cell") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bf = Similarity.topKBruteForce(e, probeEvery = 100, k = 3)
    val perProbe = bf.groupBy("probe_id").count().collect()
    assert(perProbe.nonEmpty && perProbe.forall(_.getLong(1) === 3L))
    val ivf = Similarity.topKIvf(e, probeEvery = 100, k = 3)
      .join(e.select(col("vec_id").as("probe_id"), col("label").as("pl")), "probe_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")), "neighbor_id")
    assert(ivf.where(col("pl") =!= col("nl")).count() === 0L)
  }

  test("TopKByScore keeps k best with deterministic tie-break, matches window rank") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (1L, 0.9, 10L), (1L, 0.9, 3L), (1L, 0.8, 7L), (1L, 0.95, 4L), (1L, 0.1, 1L),
      (2L, 0.5, 2L))
      .toDF("probe_id", "cosine", "neighbor_id")
      .repartition(4) // force partial/merge paths through serialization
    val agg = df.groupBy("probe_id")
      .agg(graft.functions.TopKByScore(col("cosine"), col("neighbor_id"), 3).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("r", "nb")))
      .select(col("probe_id"), (col("r") + 1).as("rank"),
        col("nb.id").as("neighbor_id"), col("nb.score").as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val win = df.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select("probe_id", "rank", "neighbor_id", "cosine")
    val a = agg.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val b = win.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    assert(a === b)
    // group 1 top-3: 0.95/4, then the 0.9 tie broken by id (3 before 10)
    assert(a.take(3).map(r => (r(2), r(3))) === Seq((4L, 0.95), (3L, 0.9), (10L, 0.9)))
  }

  test("triangle-partitioned near-dup equals the naive cell-blocked pair set") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // low threshold + few blocks: exercises diagonal AND off-diagonal
    // block-pair groups with a non-trivial result set.
    val tri = Similarity.nearDupCosine(e, threshold = 0.3, subBlocks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        TextOps.trunc6(hofCosine("a.embedding", "b.embedding"))
          .as("cosine"))
      .where(col("cosine") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty)
    assert(tri === naive) // no lost pairs at block boundaries, no duplicates
  }

  test("cell-blocked near-dup equals the naive pair set over the same assignment") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val asg = Similarity.kmeansCellsByOccupancy(e, occupancy = 20)
      .localCheckpoint()
    val got = Similarity.nearDupCosineCells(e, threshold = 0.3,
        assignments = Some(asg))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val e2 = e.join(asg, "vec_id")
    val naive = e2.as("a")
      .join(e2.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        TextOps.trunc6(hofCosine("a.embedding", "b.embedding"))
          .as("cosine"))
      .where(col("cosine") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty)
    assert(got === naive)
  }

  test("multimodal: mapPartitions decode agrees exactly with the expression variant") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
    val viaPartitions = Multimodal.featurizePartitions(Multimodal.withPayload(d))
      .orderBy("doc_id").collect()
    val viaExpr = Multimodal.featurizeExpr(d)
      .select("doc_id", "n_bytes", "width", "height", "n_frames", "frame_stride")
      .orderBy("doc_id").collect()
    assert(viaPartitions.length === viaExpr.length)
    viaPartitions.zip(viaExpr).foreach { case (p, x) =>
      assert(p.getLong(0) === x.getLong(0))
      assert(p.getInt(1) === x.getInt(1), "n_bytes")
      assert(p.getInt(2) === x.getInt(2), "width")
      assert(p.getInt(3) === x.getInt(3), "height")
      assert(p.getInt(4) === x.getInt(4), "n_frames")
      assert(p.getInt(5) === x.getInt(5), "frame_stride")
    }
  }

  test("pgm decode: hand-built fixture parses header + pixel stats from bytes") {
    // 3×2 image, multi-digit-safe dims, a header comment, pixels 10..60.
    val header = "P5\n# a comment\n3 2\n255\n".getBytes("US-ASCII")
    val raster = Array[Byte](10, 20, 30, 40, 50, 60)
    val fixtures = Seq(
      (1L, header ++ raster),
      (2L, "P6\n3 2\n255\n".getBytes("US-ASCII") ++ raster), // wrong magic
      (3L, header ++ raster.take(5)),                        // truncated raster
      (4L, "P5\n3 2\n65535\n".getBytes("US-ASCII") ++ raster), // 2-byte maxval
      (5L, "P5\n3 2\n255".getBytes("US-ASCII") ++ raster))   // no ws after maxval
    val out = fixtures.toDF("doc_id", "payload")
      .select(col("doc_id"), graft.functions.PgmDecode(col("payload")).as("img"))
      .orderBy("doc_id").collect()
    val ok = out(0).getStruct(1)
    assert((ok.getInt(0), ok.getInt(1), ok.getInt(2), ok.getInt(3)) === ((3, 2, 255, 6)))
    assert((ok.getLong(4), ok.getInt(5), ok.getInt(6)) === ((210L, 10, 60)))
    assert(out.drop(1).forall(_.isNullAt(1)), "malformed payloads must decode to null")
  }

  test("pgm encode → decode round trip recovers text-byte stats exactly") {
    val d = docs((7L, "abcdefghij" * 5, "en"))  // 50 chars, width 8 → 6 rows
    val r = Multimodal.imageStats(Multimodal.encodePgm(d, width = 8)).head()
    val bytes = ("abcdefghij" * 5).getBytes("US-ASCII").take(48)
    assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)) === ((8, 6, 255, 48)))
    assert(r.getLong(5) === bytes.map(_.toLong).sum)
    assert(r.getInt(6) === bytes.map(_ & 0xff).min)
    assert(r.getInt(7) === bytes.map(_ & 0xff).max)
    // Shorter than one row → filtered at encode.
    assert(Multimodal.encodePgm(docs((8L, "tiny", "en")), width = 8).count() === 0)
  }

  test("pgm decode: mapPartitions batch twin agrees exactly with the expression") {
    val payloads = Multimodal.encodePgm(
      graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(100))
    val viaExpr = Multimodal.imageStats(payloads).orderBy("doc_id").collect()
    val viaPartitions = Multimodal.imageStatsPartitions(payloads)
      .orderBy("doc_id").collect()
    assert(viaExpr.nonEmpty)
    assert(viaPartitions.map(_.toSeq).toSeq === viaExpr.map(_.toSeq).toSeq)
  }

  test("sessionize: one session per burst, purchases counted") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, "view", 1.0),
      (2L, ts("2024-01-01 10:05:00"), 100L, "purchase", 9.0),
      (3L, ts("2024-01-02 09:00:00"), 100L, "view", 2.0), // > 6h later → new session
      (4L, ts("2024-01-01 10:00:00"), 200L, "view", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.sessionize(ev).orderBy("user_id", "session_no").collect()
    assert(out.length === 3)
    assert(out(0).getLong(4) === 2L) // user 100 session 1: 2 events
    assert(out(0).getLong(5) === 1L) // 1 purchase
    assert(out(1).getLong(4) === 1L)
  }

  test("sessionFunnel: a session converts only with a purchase at/after a view") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, "view", 1.0),
      (2L, ts("2024-01-01 10:30:00"), 100L, "purchase", 9.0), // converts
      (3L, ts("2024-01-02 09:00:00"), 100L, "view", 2.0),     // new session, no buy
      (4L, ts("2024-01-01 09:00:00"), 200L, "purchase", 7.0), // purchase w/o view
      (5L, ts("2024-01-01 10:00:00"), 200L, "view", 3.0))     // view AFTER purchase
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.sessionFunnel(ev).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // User 200's single session has both event types but the view comes
    // after the purchase → not converted.
    assert(out.toSeq === Seq((100L, 2L, 1L, 0.5), (200L, 1L, 0L, 0.0)))
  }
}
