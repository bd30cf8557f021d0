package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dsir

/** DSIR importance selection, hybrid-RRF fusion, and n-gram novelty:
  * the defining property of each on constructed inputs or recomputed
  * from the registered query's own output. */
class SelectionFusionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("DSIR: target-like documents outrank raw-like documents") {
    // target corpus speaks {alpha beta}; the raw pool's background
    // speaks {zeta eta}. A raw doc written in target language must
    // score above one written in background language.
    val target = Seq.fill(50)("alpha").map(w => (0L, w)) ++
      Seq.fill(50)("beta").map(w => (0L, w))
    val rawDocs = Seq(
      (1L, Seq("alpha", "beta", "alpha", "beta")), // target-like
      (2L, Seq("zeta", "eta", "zeta", "eta")),     // background
      (3L, Seq("alpha", "beta", "zeta", "eta")))   // mixed
    val raw = rawDocs.flatMap { case (id, ws) => ws.map(w => (id, w)) } ++
      // background mass so q(zeta|raw) is high and its log-ratio negative
      Seq.fill(100)("zeta").map(w => (99L, w)) ++
      Seq.fill(100)("eta").map(w => (99L, w))
    val tDf = target.toDF("doc_id", "word")
    val rDf = raw.toDF("doc_id", "word")
    val w = Dsir.importanceWeights(tDf, rDf, "word", 512)
    val scores = Dsir.scoreDocuments(rDf, "doc_id", "word", w, 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > scores(3L), s"target-like ≤ mixed: $scores")
    assert(scores(3L) > scores(2L), s"mixed ≤ background: $scores")
    assert(scores(1L) > 0 && scores(2L) < 0,
      s"log-ratio signs wrong: $scores")
  }

  test("DSIR: one-scan split weights equal the two-pool weights") {
    val toks = Seq((true, "alpha"), (true, "beta"), (true, "alpha"),
        (false, "zeta"), (false, "alpha"), (false, "eta"), (false, "eta"))
      .toDF("is_t", "word")
    val two = Dsir.importanceWeights(
        toks.where($"is_t"), toks.where(!$"is_t"), "word", 64)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val one = Dsir.importanceWeightsSplit(toks, $"is_t", "word", 64)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(two == one, s"two-pool $two != split $one")
    assert(two.nonEmpty)
  }

  test("DSIR: bucket hash is stable and in range") {
    val b = 64
    val words = Seq("alpha", "beta", "zeta", "", "hash me").toDF("w")
    val twice = words
      .select(Dsir.bucket(col("w"), b).as("b1"), Dsir.bucket(col("w"), b).as("b2"))
      .collect()
    assert(twice.forall(r => r.getLong(0) == r.getLong(1)))
    assert(twice.forall(r => r.getLong(0) >= 0 && r.getLong(0) < b))
  }

  test("hybrid RRF: fusion arithmetic recomputes from the rank columns") {
    val rows = SparkEntry.queries("q_hybrid_rrf")(spark, TestSpark.SfDir)
      .collect()
    assert(rows.nonEmpty)
    def leg(r: org.apache.spark.sql.Row, i: Int): Double =
      if (r.isNullAt(i)) 0.0 else 1.0 / (60 + r.getInt(i))
    rows.foreach { r =>
      val expect = BigDecimal(leg(r, 1) + leg(r, 2))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == expect, s"rrf mismatch on row $r")
      assert(!(r.isNullAt(1) && r.isNullAt(2)), s"rankless row $r")
    }
    // output is sorted by fused score, and both legs contributed rows
    val rrfs = rows.map(_.getDouble(3))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
    assert(rows.exists(r => !r.isNullAt(1)) && rows.exists(r => !r.isNullAt(2)))
  }

  test("n-gram novelty: family-level semantics on a constructed corpus") {
    // planted corpus: docs 1 and 2 are EXACT duplicates (one family);
    // doc 3 shares its first 4 tokens (2 shingles) with that family;
    // doc 4 is fully unique
    val famText = "k1 k2 k3 k4 k5 k6"          // shingles: 4
    val overlap = "k1 k2 k3 k4 u1 u2"          // shares 2 of its 4
    val unique  = "z1 z2 z3 z4 z5 z6"          // 4, all its own
    TestSpark.withTempDir("graft_novelty_") { d =>
      val dir = d.toString
      Seq((1L, famText), (2L, famText), (3L, overlap), (4L, unique))
        .toDF("doc_id", "text")
        .select($"doc_id", $"text", lit("en").as("lang"),
          lit("src0").as("source"), length($"text").cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val out = SparkEntry.queries("q_ngram_novelty")(spark, dir)
        .collect().map(r =>
          r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      // exact duplicates inherit their family's numbers verbatim
      assert(out(1L) == out(2L), s"family members disagree: $out")
      // the family's 4 shingles: 2 also live in doc 3 -> 2 novel
      assert(out(1L) == ((4L, 2L, 0.5)), s"family: ${out(1L)}")
      // doc 3: 4 shingles, the 2 shared ones are seen in 2 families
      assert(out(3L) == ((4L, 2L, 0.5)), s"overlap: ${out(3L)}")
      // fully-unique doc: novelty 1
      assert(out(4L) == ((4L, 4L, 1.0)), s"unique: ${out(4L)}")
    }

    // and on the real fixture: ranges hold and n_shingles agrees with
    // a direct distinct-shingle count
    val fixture = SparkEntry.queries("q_ngram_novelty")(spark, TestSpark.SfDir)
      .collect()
    assert(fixture.nonEmpty)
    fixture.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1), r.toString)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0, r.toString)
    }
    val one = graft.core.Tables.documents(spark, TestSpark.SfDir)
      .orderBy($"doc_id").limit(1)
      .select($"doc_id",
        size(array_distinct(graft.functions.TextFns.shinglesDistinct($"text", 3)))
          .as("n"))
      .head()
    val byDoc = fixture.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(one.getLong(0)) == one.getInt(1).toLong,
      "n_shingles disagrees with a direct distinct-shingle count")
  }
}
