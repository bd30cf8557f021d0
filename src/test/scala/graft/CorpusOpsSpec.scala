package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Drift, Selection}

/** Round-12 additions: salted two-phase top-N-per-group (domain cap),
  * stride-1 duplicated-span census, corpus-drift KL, and the LATERAL
  * subquery surface. Each op's defining property on constructed
  * inputs, plus exact equivalence to its naive formulation. */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ----------------------------------------------- topNPerGroupScalable
  test("topNPerGroupScalable equals the plain window on a skewed frame") {
    // group g0 is hot (300 rows), g1 tiny (3), g2 has duplicate scores
    // (tie-break through the id must decide identically in both plans)
    val rows = (1 to 300).map(i => ("g0", i.toLong, (i * 37 % 101).toDouble)) ++
      Seq(("g1", 1000L, 5.0), ("g1", 1001L, 7.0), ("g1", 1002L, 7.0)) ++
      (1 to 40).map(i => ("g2", 2000L + i, 1.0))
    val df = rows.toDF("grp", "id", "score")
    val order = Seq(col("score").desc, col("id").asc)
    val fast = Selection.topNPerGroupScalable(
        df, "grp", order, saltBy = col("id"), n = 7, salts = 4)
      .select($"grp", $"id", $"rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val w = Window.partitionBy($"grp").orderBy(order: _*)
    val naive = df.withColumn("rn", row_number().over(w))
      .where($"rn" <= 7).select($"grp", $"id", $"rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(fast == naive, s"two-phase != window:\n${fast.diff(naive)}\n${naive.diff(fast)}")
    assert(naive.count(_._1 == "g0") == 7 && naive.count(_._1 == "g1") == 3)
  }

  // --------------------------------------------------- dupSpanCensus
  private def census(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] =
    Dedup.dupSpanCensus(docs.toDF("doc_id", "text"), "doc_id", "text",
        win = 5, seed = 3011L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("dupSpanCensus: shared span covered at every alignment, unique text untouched") {
    // docs 1 and 2 share exactly tokens s1..s7 (7 tokens); their other
    // tokens are from disjoint alphabets. A 7-token shared span has
    // three 5-token alignments in each doc -> one merged island of 7.
    val shared = (1 to 7).map("s" + _).mkString(" ")
    val d1 = s"a1 a2 $shared a3 a4"      // 11 tokens, dup 7
    val d2 = s"b1 $shared b2 b3 b4"      // 11 tokens, dup 7
    val d3 = (1 to 9).map("u" + _).mkString(" ") // unique, dup 0
    val r = census(Seq((1L, d1), (2L, d2), (3L, d3)))
    assert(r(1L) == (11L, 7L), s"doc1: ${r(1L)}")
    assert(r(2L) == (11L, 7L), s"doc2: ${r(2L)}")
    assert(r(3L) == (9L, 0L), s"doc3: ${r(3L)}")
  }

  test("dupSpanCensus: intra-doc repetition counts, short docs report zero") {
    // doc 10 repeats a 5-gram inside itself (positions 1-5 and 6-10):
    // both occurrences are duplicated windows -> full coverage 10.
    val rep = "p q r s t p q r s t"
    val r = census(Seq((10L, rep), (11L, "one two")))
    assert(r(10L) == (10L, 10L), s"intra-doc: ${r(10L)}")
    assert(r(11L) == (2L, 0L), s"short doc: ${r(11L)}")
  }

  test("dupSpanCensus: disjoint dup spans stay separate islands, coverage adds") {
    // doc 20 shares span1 (tokens 1-5) with doc 21 and span2 (tokens
    // 9-13) with doc 22; tokens 6-8 are unique -> coverage 5 + 5 = 10
    // of 13, two islands that must NOT merge across the gap.
    val s1 = (1 to 5).map("x" + _).mkString(" ")
    val s2 = (1 to 5).map("y" + _).mkString(" ")
    val r = census(Seq(
      (20L, s"$s1 g1 g2 g3 $s2"),
      (21L, s"h1 h2 $s1 h3 h4"),
      (22L, s"k1 k2 $s2 k3 k4")))
    assert(r(20L) == (13L, 10L), s"two islands: ${r(20L)}")
  }

  test("dupSpanCensusScalable equals the straight census, incl. the weighting case") {
    // docs 30/31 are EXACT duplicates: rep-space each window occurs
    // once, but the member-weighted census must count 2 and mark the
    // whole family covered — the case an unweighted collapse gets wrong
    val corpus = Seq(
      (30L, "w1 w2 w3 w4 w5 w6"), (31L, "w1 w2 w3 w4 w5 w6"),
      (32L, "z1 z2 z3 z4 z5 z6 z7"),
      (33L, s"c1 ${(1 to 5).map("m" + _).mkString(" ")} c2"),
      (34L, s"d1 d2 ${(1 to 5).map("m" + _).mkString(" ")}"))
    val straight = Dedup.dupSpanCensus(corpus.toDF("doc_id", "text"),
        "doc_id", "text", win = 5, seed = 3011L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scalable = Dedup.dupSpanCensusScalable(corpus.toDF("doc_id", "text"),
        "doc_id", "text", win = 5, seed = 3011L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(straight == scalable,
      s"straight ${straight.diff(scalable)} != scalable ${scalable.diff(straight)}")
    assert(straight.contains((30L, 6L, 6L)) && straight.contains((31L, 6L, 6L)),
      s"exact-dup family must be fully covered: $straight")
    assert(straight.contains((32L, 7L, 0L)), s"unique doc: $straight")
  }

  test("SpanStore day-2 equals from-scratch, incl. threshold crossings and re-ingest") {
    // v0: A unique; B=C an exact-dup family (fully covered); D holds
    // span s1..s5 that is UNIQUE on day 1. delta: E shares D's span
    // (crossing 1->2 - D must be recomputed from its STORED windows),
    // F re-ingests A's text (family sz 1->2 - all of A's windows
    // cross), G is new and unique. B/C are untouched and must come
    // from the store.
    val span = (1 to 5).map("s" + _).mkString(" ")
    val v0 = Seq(
      (1L, (1 to 10).map("a" + _).mkString(" ")),
      (2L, (1 to 8).map("b" + _).mkString(" ")),
      (3L, (1 to 8).map("b" + _).mkString(" ")),
      (4L, s"d1 d2 $span d3"))
    val delta = Seq(
      (10L, s"e1 e2 $span e3"),
      (20L, (1 to 10).map("a" + _).mkString(" ")),
      (30L, (1 to 7).map("g" + _).mkString(" ")))
    val all = (v0 ++ delta).toDF("doc_id", "text")
    // reclaim generations of this test that an earlier run left behind
    // (one killed before its `finally`): the store root is shared
    val leaked = Option(new java.io.File(Dedup.SpanStore.root).list()).toSeq.flatten
      .filter(_.startsWith("span_store_spanday2_spec_"))
    leaked.foreach(d => Dedup.SpanStore.vacuum(spark, d.stripPrefix("span_store_")))
    assert(leaked.forall(d => !new java.io.File(Dedup.SpanStore.root, d).exists()))
    val tag = "spanday2_spec_" + System.nanoTime()
    try {
      Dedup.SpanStore.write(spark, v0.toDF("doc_id", "text"),
        "doc_id", "text", win = 5, seed = 3011L, tag = tag)
      val got = Dedup.SpanStore.day2Stats(spark, all,
          delta.toDF("doc_id", "text"), "doc_id", "text",
          win = 5, seed = 3011L, tag = tag)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val scratch = Dedup.dupSpanCensusScalable(all, "doc_id", "text",
          win = 5, seed = 3011L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == scratch,
        s"day2 ${got.diff(scratch)} != scratch ${scratch.diff(got)}")
      assert(got.contains((1L, 10L, 10L)) && got.contains((20L, 10L, 10L)),
        s"re-ingested family must be fully covered: $got")
      assert(got.contains((4L, 8L, 5L)) && got.contains((10L, 8L, 5L)),
        s"crossing span must cover 5 tokens in both holders: $got")
      assert(got.contains((30L, 7L, 0L)), s"unique new doc: $got")
    } finally Dedup.SpanStore.vacuum(spark, tag)
  }

  test("SpanStore absorb ≡ from-scratch rebuild; day-3 probe on gen2; vacuum reclaims gen1") {
    // gen1 = v0; absorb delta1 (crossing + re-ingest + new family)
    // into gen2 ON DISK; gen2's three persisted frames must equal a
    // from-scratch write over v0 ∪ delta1 (incl. the merged copy
    // counts and census occ), a day-3 probe against gen2 must equal
    // the from-scratch census over everything, and vacuum(gen1) must
    // drop gen1's tables AND files while gen2 stays readable.
    val span = (1 to 5).map("s" + _).mkString(" ")
    val v0 = Seq(
      (1L, (1 to 10).map("a" + _).mkString(" ")),
      (2L, (1 to 8).map("b" + _).mkString(" ")),
      (4L, s"d1 d2 $span d3"))
    val delta1 = Seq(
      (10L, s"e1 e2 $span e3"),              // crossing 1->2 on D's span
      (20L, (1 to 10).map("a" + _).mkString(" ")), // re-ingest of A
      (30L, (1 to 7).map("g" + _).mkString(" ")))  // new unique
    val delta2 = Seq(
      (40L, (1 to 8).map("b" + _).mkString(" ")),  // crossing on B (sz 1->2)
      (50L, (1 to 6).map("h" + _).mkString(" ")))  // new unique
    val ts = System.nanoTime()
    val (tag1, tag2, tagRb) =
      (s"spanabs_spec_g1_$ts", s"spanabs_spec_g2_$ts", s"spanabs_spec_rb_$ts")
    Dedup.SpanStore.write(spark, v0.toDF("doc_id", "text"),
      "doc_id", "text", win = 5, seed = 3011L, tag = tag1)
    Dedup.SpanStore.absorb(spark, tag1, tag2, delta1.toDF("doc_id", "text"),
      "doc_id", "text", win = 5, seed = 3011L)
    // stored frames ≡ from-scratch write over v0 ∪ delta1
    Dedup.SpanStore.write(spark, (v0 ++ delta1).toDF("doc_id", "text"),
      "doc_id", "text", win = 5, seed = 3011L, tag = tagRb)
    def famSet(t: String) = spark.table(Dedup.SpanStore.table(t, "fams"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    def censusSet(t: String) = spark.table(Dedup.SpanStore.table(t, "census"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def winsSet(t: String) = spark.table(Dedup.SpanStore.table(t, "wins"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(famSet(tag2) == famSet(tagRb),
      s"fams: ${famSet(tag2).diff(famSet(tagRb))} vs ${famSet(tagRb).diff(famSet(tag2))}")
    assert(censusSet(tag2) == censusSet(tagRb),
      s"census: ${censusSet(tag2).diff(censusSet(tagRb))}")
    assert(winsSet(tag2) == winsSet(tagRb), "wins differ")
    // day-3 probe against the REGENERATED store ≡ from-scratch over all
    val all = (v0 ++ delta1 ++ delta2).toDF("doc_id", "text")
    val got = Dedup.SpanStore.day2Stats(spark, all,
        delta2.toDF("doc_id", "text"), "doc_id", "text",
        win = 5, seed = 3011L, tag = tag2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = Dedup.dupSpanCensusScalable(all, "doc_id", "text",
        win = 5, seed = 3011L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == scratch,
      s"day3 ${got.diff(scratch)} != scratch ${scratch.diff(got)}")
    // statsFromStore: the store IS the answer for gen2's own corpus
    val fromStore = Dedup.SpanStore.statsFromStore(spark,
        (v0 ++ delta1).toDF("doc_id", "text"), "doc_id", "text", tag2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch12 = Dedup.dupSpanCensusScalable(
        (v0 ++ delta1).toDF("doc_id", "text"), "doc_id", "text",
        win = 5, seed = 3011L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromStore == scratch12, s"statsFromStore ${fromStore.diff(scratch12)}")
    // vacuum gen1: tables + files gone, gen2 untouched
    Dedup.SpanStore.vacuum(spark, tag1)
    assert(!spark.catalog.tableExists(Dedup.SpanStore.table(tag1, "fams")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      Dedup.SpanStore.root, s"span_store_$tag1")))
    assert(spark.table(Dedup.SpanStore.table(tag2, "fams")).count() ==
      famSet(tagRb).size)
    Dedup.SpanStore.vacuum(spark, tag2)
    Dedup.SpanStore.vacuum(spark, tagRb)
  }

  test("ImageHashStore: absorb ≡ rebuild, day-3 probe ≡ batch, rep/sz merge, vacuum") {
    import graft.multimodal.Multimodal.ImageHashStore
    // hashes chosen so Hamming(h1,h2)=2 ≤ 3 (near-dups), h3 far.
    val h1 = 0x0f0f0f0f0f0f0f0fL
    val h2 = h1 ^ 0x3L               // 2 bits away from h1
    val h3 = 0x7a7a7a7a00000000L
    val h4 = h3 ^ 0x11L              // 2 bits away from h3 — arrives day 2
    val v0 = Seq((10L, h1), (11L, h1), (20L, h2), (30L, h3))
    val d1 = Seq((40L, h4), (5L, h2))   // new hash + re-ingest with SMALLER id
    val d2 = Seq((50L, h1 ^ 0x5L))      // 2 from h1, 4 from h2 (only one pair)
    val ts = System.nanoTime()
    val (g1, g2, rb) = (s"imgspec_g1_$ts", s"imgspec_g2_$ts", s"imgspec_rb_$ts")
    def df(rows: Seq[(Long, Long)]) = rows.toDF("media_id", "ahash")
    ImageHashStore.write(spark, df(v0), g1, maxHamming = 3)
    ImageHashStore.absorb(spark, g1, g2, df(d1), maxHamming = 3)
    // absorbed generation ≡ from-scratch write over v0 ∪ d1
    ImageHashStore.write(spark, df(v0 ++ d1), rb, maxHamming = 3)
    def famSet(t: String) = spark.table(ImageHashStore.table(t, "fams"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def pairSet(t: String) = spark.table(ImageHashStore.table(t, "pairs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(famSet(g2) == famSet(rb),
      s"fams: ${famSet(g2).diff(famSet(rb))} vs ${famSet(rb).diff(famSet(g2))}")
    assert(pairSet(g2) == pairSet(rb), s"pairs: ${pairSet(g2)} vs ${pairSet(rb)}")
    // re-ingest with smaller id must have moved h2's rep to 5
    assert(famSet(g2).contains((h2, 5L, 2L)), s"rep merge: ${famSet(g2)}")
    // day-3 probe against gen2 ≡ from-scratch batch over everything
    val all = v0 ++ d1 ++ d2
    val got = ImageHashStore.day2Pairs(spark, df(d2), g2, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    val fams = df(all).groupBy($"ahash")
      .agg(min($"media_id").as("rep"), count(lit(1)).as("sz"))
    val batch = Dedup.simhashPairs(
        fams.select($"rep", $"ahash".as("simhash")), "rep",
        maxHamming = 3, bits = 64, segments = 4)
      .join(fams.select($"rep".as("id_a"), $"sz".as("sz_a")), "id_a")
      .join(fams.select($"rep".as("id_b"), $"sz".as("sz_b")), "id_b")
      .select($"id_a", $"id_b", $"hamming".cast("int"), $"sz_a", $"sz_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == batch, s"day3 ${got.diff(batch)} != batch ${batch.diff(got)}")
    assert(got.exists(p => p._1 == 10L && p._2 == 50L),
      "the day-3 hash must pair with h1's family")
    // vacuum gen1; gen2 stays readable
    ImageHashStore.vacuum(spark, g1)
    assert(!spark.catalog.tableExists(ImageHashStore.table(g1, "fams")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      ImageHashStore.root, s"img_store_$g1")))
    assert(spark.table(ImageHashStore.table(g2, "fams")).count() == 4)
    ImageHashStore.vacuum(spark, g2)
    ImageHashStore.vacuum(spark, rb)
  }

  test("stripDupSpans rebuilds exactly the uncovered tokens in order") {
    val shared = (1 to 7).map("s" + _).mkString(" ")
    val strip = Dedup.stripDupSpans(
        Seq((1L, s"a1 a2 $shared a3 a4"), (2L, s"b1 $shared b2 b3 b4"),
          (3L, "u1 u2 u3 u4 u5 u6"), (4L, "p q r s t p q r s t"))
          .toDF("doc_id", "text"), "doc_id", "text", win = 5, seed = 3011L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(strip(1L) == (4L, "a1 a2 a3 a4"), s"doc1: ${strip(1L)}")
    assert(strip(2L) == (4L, "b1 b2 b3 b4"), s"doc2: ${strip(2L)}")
    assert(strip(3L) == (6L, "u1 u2 u3 u4 u5 u6"), s"unique doc: ${strip(3L)}")
    assert(strip(4L) == (0L, ""), s"fully-duplicated doc: ${strip(4L)}")
  }

  // ------------------------------------------------------- drift KL
  test("drift KL: identical mixes score equal, a drifted shard scores higher") {
    // shards A and B draw the corpus mix; shard C speaks another
    // vocabulary entirely. KL is computed vs the pooled corpus.
    val mix = Seq("alpha", "beta", "gamma", "alpha")
    val toks = mix.map(("A", _)) ++ mix.map(("B", _)) ++
      Seq.fill(4)("omega").map(("C", _))
    val r = Drift.klPerGroup(toks.toDF("src", "word"), "src", "word", 64)
      .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    assert(r("A") == r("B"), s"identical shards differ: $r")
    assert(r("C") > r("A"), s"drifted shard not above baseline: $r")
    // smoothed KL against a pooled baseline is near zero for an
    // in-distribution shard; kl_e9 is floor(kl*1e9), so a true-zero
    // divergence may floor to -1
    assert(r.values.forall(_ >= -1L), s"negative KL: $r")
  }

  // ------------------------------------------------- image aHash
  test("decodeAHash: geometry-classes hash identically, distinct classes differ") {
    import graft.multimodal.Multimodal
    // ids 6 and 6+221·6 share (w,h) = (16+id%17, 12+id%13) — identical
    // analytic pixel pattern → identical aHash from the REAL decode;
    // id 12 is a different geometry class
    val media = Multimodal.imageMedia(
      Seq(6L, 1332L, 12L).toDF("doc_id"), "doc_id")
    val r = Multimodal.decodeAHash(media, grid = 8)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r(6L) == r(1332L), s"same-class hashes differ: $r")
    assert(r(6L) != r(12L), s"distinct classes collide: $r")
  }

  test("resizeBox: cells partition the image; floor-div means replay the real decode") {
    import graft.multimodal.Multimodal
    val media = Multimodal.imageMedia(Seq(6L, 12L).toDF("doc_id"), "doc_id")
    val cells = Multimodal.resizeBox(media, gw = 4, gh = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getInt(4)) ->
        (r.getInt(2), r.getInt(1), r.getInt(5), r.getInt(6), r.getInt(7))).toMap
    assert(cells.size == 2 * 12, "each image must emit exactly gw*gh cells")
    // replay one image's lattice in plain Scala from the decoded pixels
    val bytes = Multimodal.imageMedia(Seq(6L).toDF("doc_id"), "doc_id")
      .select($"payload").head().getAs[Array[Byte]](0)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    val (w, h) = (img.getWidth, img.getHeight)
    val (sr, sg, sb, n) = (Array.fill(12)(0L), Array.fill(12)(0L),
      Array.fill(12)(0L), Array.fill(12)(0L))
    for (y <- 0 until h; x <- 0 until w) {
      val c = (y * 3 / h) * 4 + (x * 4 / w)
      val rgb = img.getRGB(x, y)
      sr(c) += (rgb >> 16) & 0xff; sg(c) += (rgb >> 8) & 0xff
      sb(c) += rgb & 0xff; n(c) += 1
    }
    assert(n.sum == w.toLong * h, "lattice must partition every pixel")
    for (cy <- 0 until 3; cx <- 0 until 4) {
      val c = cy * 4 + cx
      val got = cells((6L, cx, cy))
      assert(got == ((h, w, (sr(c) / n(c)).toInt, (sg(c) / n(c)).toInt,
        (sb(c) / n(c)).toInt)), s"cell ($cx,$cy) mismatch")
    }
  }

  test("downsamplePcm: box means replay the real decode in sample order") {
    import graft.multimodal.Multimodal
    val media = Multimodal.audioMedia(Seq(7L, 10L).toDF("doc_id"), "doc_id")
    val got = Multimodal.downsamplePcm(media, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2)) ->
        (r.getInt(1), r.getDouble(3))).toMap
    assert(got.keys.count(_._1 == 7L) == 8 && got.keys.count(_._1 == 10L) == 8)
    // plain-Scala replay over the decoded samples of one track
    val bytes = Multimodal.audioMedia(Seq(7L).toDF("doc_id"), "doc_id")
      .select($"payload").head().getAs[Array[Byte]](0)
    val (_, _, ch, _, ns) = Multimodal.AudioCodec.parseHeader(bytes)
    val xs = Multimodal.decodePcm(bytes).get
    val sums = Array.fill(8)(0.0); val n = Array.fill(8)(0L)
    xs.indices.foreach { k =>
      val b = (k / ch) * 8 / ns; sums(b) += xs(k); n(b) += 1 }
    (0 until 8).foreach { b =>
      assert(got((7L, b)) == ((ns, sums(b) / n(b))), s"bucket $b mismatch") }
  }

  // ------------------------------------------------- lateral subquery
  test("LATERAL top-2 equals the window formulation and decorrelates") {
    val cust = Seq((1L, "c1", 10.0, 1L), (2L, "c2", 30.0, 1L),
        (3L, "c3", 20.0, 1L), (4L, "c4", 5.0, 2L), (5L, "c5", 5.0, 2L))
      .toDF("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nat = Seq((1L, "FR"), (2L, "DE"), (3L, "EMPTY"))
      .toDF("n_nationkey", "n_name")
    cust.createOrReplaceTempView("cust_lat_spec")
    nat.createOrReplaceTempView("nat_lat_spec")
    val lateral = spark.sql("""
      SELECT n.n_name, tc.c_custkey
      FROM nat_lat_spec n,
      LATERAL (SELECT c_custkey FROM cust_lat_spec c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_custkey LIMIT 2) tc""")
    val got = lateral.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // window equivalent (inner lateral = per-nation top-2)
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey")
    val expect = cust.withColumn("rk", row_number().over(w))
      .where($"rk" <= 2)
      .join(nat, $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_custkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expect, s"lateral $got != window $expect")
    assert(!got.exists(_._1 == "EMPTY"), "inner join semantics: empty nation must vanish")
    // decorrelation: no per-outer-row re-execution shape survives —
    // the executed plan must be join+window, not a cartesian loop
    val plan = lateral.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"lateral did not decorrelate:\n$plan")
  }
}
