package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")

  test("cosine: identical → 1, orthogonal → 0") {
    val out = vecs.alias("a").join(vecs.alias("b"),
        $"a.vec_id" === 0 && $"b.vec_id".isin(0L, 2L))
      .select($"b.vec_id",
        Similarity.cosine($"a.embedding", $"b.embedding").as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(0L) - 1.0) < 1e-12)
    assert(math.abs(out(2L)) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val top = Similarity.bruteForceTopK(
        vecs.where($"vec_id" === 0), vecs, "vec_id", "vec_id", "embedding", 2)
      .select("vec_id", "rk").as[(Long, Int)].collect().toMap
    assert(top(1L) == 1)      // nearest is the 0.9/0.1 vector
    assert(!top.contains(0L)) // self excluded
  }

  test("kcenterGreedy returns k distinct ids, spread out") {
    val chosen = Similarity.kcenterGreedy(vecs, "vec_id", "embedding",
      k = 3, seedId = 0L)
    assert(chosen.size == 3 && chosen.distinct.size == 3)
    // farthest-first from vec 0 must pick the two orthogonal axes
    assert(chosen.toSet.subsetOf(Set(0L, 2L, 3L)))
  }

  test("lshTopK on clustered embeddings: recall@10 >= 0.9 scanning <= 0.3 of the corpus") {
    // The sf fixture's near-uniform vectors are adversarial for LSH
    // (~0.74 recall scanning ~0.6). Real embedding corpora are
    // CLUSTERED — this fixture has 8 well-separated clusters of 50
    // members each (unit-ish centers + small noise), where bucketing
    // must pay off: high recall from a small scanned fraction.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = for {
      c <- centers.indices
      m <- 0 until 50
    } yield {
      val v = centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      ((c * 50 + m).toLong, v)
    }
    val corpus = rows.toDF("vec_id", "embedding").repartition(8).cache()
    val queries = corpus.where($"vec_id" % 50 === 0) // one per cluster
    val nQ = 8
    val (planes, tables, k) = (4, 4, 10)

    val cands = Similarity.lshCandidates(queries, corpus,
      "vec_id", "vec_id", "embedding", planes, tables)
    val scanFraction = cands.count().toDouble / (nQ * rows.size)
    assert(scanFraction <= 0.3, f"LSH scanned $scanFraction%.3f of the corpus")

    val lsh = Similarity.lshTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", planes, k, tables)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", k)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // keysIterator, NOT keys: mapping a key SET to per-query recalls
    // would dedupe equal values before the sum
    val recall = bf.keysIterator.map { q =>
      (lsh.getOrElse(q, Set.empty) & bf(q)).size.toDouble / bf(q).size
    }.sum / bf.size
    assert(recall >= 0.9, f"recall@$k = $recall%.3f at scan fraction $scanFraction%.3f")
    corpus.unpersist()
  }

  test("pqTopK on clustered embeddings: recall@10 >= 0.9 touching <= 0.15 true vectors; sims exact") {
    // same clustered regime as the LSH/IVF recall tests: 8 separated
    // clusters of 50. PQ codebooks (4 sub-blocks × 8 codes) must send
    // same-cluster vectors to the same code cells, so the ADC
    // candidate stage surfaces the true neighbors and the exact
    // re-rank orders them. `cands` MUST exceed the largest code-cell
    // coincidence (here the 50-member cluster): all same-cell vectors
    // carry IDENTICAL ADC, so a smaller cands truncates the tie by id
    // and recall caps (measured: 0.775 at cands=40, 1.0 at 60+) —
    // the same sizing rule IVF's probes parameter has. 60 of 400 true
    // vectors (15%) are read per query.
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    // ids interleave clusters (id = m·8 + c) so the fixed init (ids
    // 0..codes-1) lands one seed per cluster — the regime a sampled
    // k-means init gives on real corpora. An all-one-cluster init
    // measured 0.775 recall after 2 rounds; seeding matters, which is
    // why pqTopK documents init choice as part of the contract.
    val rows = for { c <- centers.indices; m <- 0 until 50 } yield {
      val v = centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      ((m * 8 + c).toLong, v)
    }
    val corpus = rows.toDF("vec_id", "embedding").repartition(8).cache()
    val queries = corpus.where($"vec_id" >= 8 && $"vec_id" < 16)
    val k = 10
    val pq = Similarity.pqTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", blocks = 4, codes = 8, iters = 2, cands = 60, k = k)
      .select("query_id", "vec_id", "sim")
      .as[(Long, Long, Double)].collect()
    val bf = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", k)
      .select("query_id", "vec_id", "sim")
      .as[(Long, Long, Double)].collect()
    val pqSets = pq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bfSets = bf.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = bfSets.keysIterator.map { q =>
      (pqSets.getOrElse(q, Set.empty) & bfSets(q)).size.toDouble / bfSets(q).size
    }.sum / bfSets.size
    assert(recall >= 0.9, f"PQ recall@$k = $recall%.3f at 60/400 candidates")
    // the re-rank is EXACT cosine: every (query, vec) pair PQ returns
    // that brute force also returns must carry the identical sim
    val bfSims = bf.map(t => (t._1, t._2) -> t._3).toMap
    pq.foreach { case (q, v, s) =>
      bfSims.get((q, v)).foreach(b => assert(b == s,
        s"sim mismatch for ($q,$v): pq $s vs brute $b"))
    }
    corpus.unpersist()
  }

  test("sqTopK on clustered embeddings: SQ8 recall@10 >= 0.9; re-rank sims exact") {
    // same clustered fixture recipe as the PQ spec. SQ8 quantizes each
    // dimension independently to 256 levels — far finer than PQ's
    // shared code cells — so the ADC candidate stage preserves the
    // neighborhood structure and the exact re-rank recovers the brute
    // ranking; recall loss only appears when true neighbors fall
    // outside the cands window.
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = for { c <- centers.indices; m <- 0 until 50 } yield {
      val v = centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      ((m * 8 + c).toLong, v)
    }
    val corpus = rows.toDF("vec_id", "embedding").repartition(8).cache()
    val queries = corpus.where($"vec_id" >= 8 && $"vec_id" < 16)
    val k = 10
    val sq = Similarity.sqTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", cands = 60, k = k)
      .select("query_id", "vec_id", "sim")
      .as[(Long, Long, Double)].collect()
    val bf = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", k)
      .select("query_id", "vec_id", "sim")
      .as[(Long, Long, Double)].collect()
    val sqSets = sq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bfSets = bf.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = bfSets.keysIterator.map { q =>
      (sqSets.getOrElse(q, Set.empty) & bfSets(q)).size.toDouble / bfSets(q).size
    }.sum / bfSets.size
    assert(recall >= 0.9, f"SQ8 recall@$k = $recall%.3f at 60/400 candidates")
    val bfSims = bf.map(t => (t._1, t._2) -> t._3).toMap
    sq.foreach { case (q, v, s) =>
      bfSims.get((q, v)).foreach(b => assert(b == s,
        s"sim mismatch for ($q,$v): sq $s vs brute $b"))
    }
    corpus.unpersist()
  }

  test("lshNearDupPairs: planted near-dups recalled >= 0.9 at pair-scan fraction <= 0.1") {
    // 300 near-uniform base vectors plus 40 PLANTED near-dup copies
    // (base + small noise → cosine ≈ 0.99) — the shape embedding
    // dedup exists for. The blocked self-join must surface ~all
    // planted pairs while touching a small fraction of all C(n,2)
    // pairs; the brute baseline touches every one.
    val rnd = new scala.util.Random(11)
    val dim = 32
    val base = Array.fill(300)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val copies = (0 until 40).map { i =>
      val b = base(i * 7)
      ((1000 + i).toLong, b.map(x => x + 0.05f * rnd.nextGaussian().toFloat),
        (i * 7).toLong)
    }
    val rows = base.indices.map(i => (i.toLong, base(i))) ++
      copies.map(c => (c._1, c._2))
    val corpus = rows.toDF("vec_id", "embedding").repartition(8).cache()
    val (planes, tables) = (8, 12)
    val n = rows.size
    val verified = Similarity.lshNearDupPairs(corpus, "vec_id", "embedding",
      planes, tables)
    val pairs = verified.select($"id_a", $"id_b", $"sim")
      .as[(Long, Long, Double)].collect()
    val scanFraction = pairs.length.toDouble / (n.toLong * (n - 1) / 2)
    assert(scanFraction <= 0.1, f"LSH touched $scanFraction%.3f of all pairs")
    val found = pairs.collect { case (a, b, s) if s >= 0.9 => (a, b) }.toSet
    val planted = copies.map(c => (c._3, c._1)).toSet
    val recall = planted.count(found.contains).toDouble / planted.size
    assert(recall >= 0.9,
      f"planted near-dup recall $recall%.3f at scan fraction $scanFraction%.3f")
    // verification is EXACT cosine — every reported sim matches the
    // brute computation for that pair
    val brute = corpus.alias("a").join(corpus.alias("b"),
        $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"),
        round(Similarity.cosine($"a.embedding", $"b.embedding"), 6).as("sim"))
      .where($"sim" >= 0.9)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    pairs.filter(_._3 >= 0.9).foreach { case (a, b, s) =>
      assert(brute((a, b)) == s, s"sim mismatch for ($a,$b)")
    }
    corpus.unpersist()
    graft.core.Caches.releaseAll()
  }

  test("ivfTopK on clustered embeddings: recall@10 >= 0.9 probing 2 of 8 cells") {
    // same clustered fixture shape as the LSH test; cells = true
    // cluster labels (the IVF contract: labels come from KMeans or a
    // precomputed partitioner). Probing 2/8 cells = scanning ~25% of
    // the corpus must recover >= 0.9 of the exact top-10.
    val rnd = new scala.util.Random(13)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = for { c <- centers.indices; m <- 0 until 50 } yield {
      val v = centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      ((c * 50 + m).toLong, c, v)
    }
    val corpus = rows.toDF("vec_id", "label", "embedding").repartition(8).cache()
    // separate lineage (not corpus.where): ivfTopK self-joins the
    // corpus against the probed cells, and a queries frame sharing the
    // corpus subtree trips Spark's ambiguous-self-join detection
    val queries = rows.filter(_._1 % 50 == 0)
      .toDF("vec_id", "label", "embedding")
    val k = 10
    val ivf = Similarity.ivfTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", "label", probes = 2, k = k)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", k)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = bf.keysIterator.map { q =>
      (ivf.getOrElse(q, Set.empty) & bf(q)).size.toDouble / bf(q).size
    }.sum / bf.size
    assert(recall >= 0.9, f"IVF recall@$k = $recall%.3f at 2/8 probes")
    corpus.unpersist()
  }

  test("ivfPqTopK: recall@10 >= 0.9 probing 2/8 cells with coded ADC; sims exact; subset of probed cells") {
    // the composite serving path: IVF probe prunes the scan, PQ codes
    // rank inside probed cells, exact re-rank orders survivors. Same
    // clustered regime as the IVF/PQ tests; interleaved ids (m·8+c)
    // land one codebook seed per cluster (the pqTopK init contract).
    val rnd = new scala.util.Random(17)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = for { c <- centers.indices; m <- 0 until 50 } yield {
      val v = centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      ((m * 8 + c).toLong, c, v)
    }
    val corpus = rows.toDF("vec_id", "label", "embedding").repartition(8).cache()
    // separate lineage (not corpus.where): the composite self-joins
    // the corpus against probed cells (same reason as the IVF test)
    val queries = rows.filter(t => t._1 >= 8 && t._1 < 16)
      .toDF("vec_id", "label", "embedding")
    val k = 10
    val ivfpq = Similarity.ivfPqTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", "label", probes = 2, blocks = 4, codes = 8,
        iters = 2, cands = 60, k = k)
      .select("query_id", "vec_id", "sim")
      .as[(Long, Long, Double)].collect()
    val bf = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", k)
      .select("query_id", "vec_id", "sim")
      .as[(Long, Long, Double)].collect()
    val pqSets = ivfpq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bfSets = bf.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = bfSets.keysIterator.map { q =>
      (pqSets.getOrElse(q, Set.empty) & bfSets(q)).size.toDouble / bfSets(q).size
    }.sum / bfSets.size
    assert(recall >= 0.9, f"IVF-PQ recall@$k = $recall%.3f at 2/8 probes")
    // the re-rank is EXACT cosine — any pair both paths return agrees
    val bfSims = bf.map(t => (t._1, t._2) -> t._3).toMap
    ivfpq.foreach { case (q, v, s) =>
      bfSims.get((q, v)).foreach(b => assert(b == s,
        s"sim mismatch for ($q,$v): ivfpq $s vs brute $b"))
    }
    // results never leave the probed cells: each query's own cell is
    // its nearest (clustered fixture), so every returned neighbor of
    // query q must share q's cluster or its second-nearest — at
    // minimum, only 2 distinct cells may appear per query
    val cellOf = rows.map(t => t._1 -> t._2).toMap
    ivfpq.groupBy(_._1).foreach { case (q, hits) =>
      val cells = hits.map(h => cellOf(h._2)).toSet
      assert(cells.size <= 2, s"query $q drew from ${cells.size} cells")
    }
    corpus.unpersist()
    graft.core.Caches.releaseAll()
  }

  test("hardNegatives: below-tau band only; equals the brute band under a full probe") {
    val rnd = new scala.util.Random(29)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = for { c <- centers.indices; m <- 0 until 50 } yield {
      val v = centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      ((c * 50 + m).toLong, c, v)
    }
    val corpus = rows.toDF("vec_id", "label", "embedding").repartition(8).cache()
    val queries = rows.filter(_._1 % 50 == 0)
      .toDF("vec_id", "label", "embedding")
    val (tau, k) = (0.9, 5)
    // full probe (8/8 cells): the IVF pruning is a no-op, so the
    // result must equal the plain brute-force band top-k
    val hn = Similarity.hardNegatives(queries, corpus, "vec_id", "vec_id",
        "embedding", "label", probes = 8, tau = tau, k = k)
      .select("query_id", "vec_id", "sim", "rk")
      .as[(Long, Long, Double, Int)].collect()
    assert(hn.nonEmpty && hn.forall(_._3 < tau),
      "a positive-band sim leaked into the negatives")
    val brute = corpus.alias("c")
      .join(broadcast(queries.alias("q")))
      .select($"q.vec_id".as("query_id"), $"c.vec_id".as("vec_id"),
        round(Similarity.cosine($"q.embedding", $"c.embedding"), 6).as("sim"))
      .where($"query_id" =!= $"vec_id" && $"sim" < tau)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(
        _.sortBy(t => (-t._3, t._2)).take(k).map(t => (t._2, t._3))).toMap
    val got = hn.groupBy(_._1).view.mapValues(
      _.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    assert(got.keySet == brute.keySet)
    got.foreach { case (q, hits) => assert(hits == brute(q).toSeq,
      s"band mismatch for query $q") }
    // same-cluster members sit ABOVE tau on this fixture — every mined
    // negative must come from a different cluster (the semantics: near
    // misses, not paraphrases)
    val clusterOf = rows.map(t => t._1 -> t._2).toMap
    hn.foreach { case (q, v, _, _) =>
      assert(clusterOf(q) != clusterOf(v),
        s"negative $v shares query $q's cluster") }
    corpus.unpersist()
    graft.core.Caches.releaseAll()
  }

  test("mmrSelect: exact greedy trajectory; diversity beats redundant top-k") {
    // hand fixture: doc 2 is an EXACT duplicate of doc 1 (the query's
    // nearest); doc 3 is a near-mirror, almost as query-similar but
    // far from doc 1. Pure top-2 by sim picks the duplicate twice
    // (1 then 2); MMR at λ=0.5 must pick 1 then 3 — the redundancy
    // penalty max-sim-to-chosen = 1.0 sinks the duplicate.
    val mvecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.9f, -0.1f, 0.0f)),
      (4L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val picks = Similarity.mmrSelect(mvecs, "vec_id", "embedding",
      queryId = 0L, k = 3, lambda = 0.5)
    assert(picks.map(_._2) == Seq(1L, 3L, 2L),
      s"MMR order was ${picks.map(_._2)}")
    // rank 1 carries the argmax simq; later simqs echo the base scores
    assert(picks.map(_._1) == Seq(1, 2, 3))

    // exactness: replay the greedy loop in plain Scala over collected
    // vectors with the same rounding and tie-breaks — the trajectory
    // (ids AND simq values) must match on a 40-vector random fixture
    val rnd = new scala.util.Random(23)
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val corpus = rows.toDF("vec_id", "embedding").repartition(4)
    val k = 6
    val got = Similarity.mmrSelect(corpus, "vec_id", "embedding",
      queryId = 0L, k = k, lambda = 0.5)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      // valueOf (canonical-string) semantics — what Spark's round uses;
      // new BigDecimal(double) would round the exact binary expansion
      BigDecimal(java.math.BigDecimal.valueOf(c))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vec = rows.toMap
    var pool = rows.filter(_._1 != 0L).map { case (id, v) =>
      (id, cos(v, vec(0L)), Option.empty[Double])
    }
    var want = Vector.empty[(Int, Long, Double)]
    while (want.size < k) {
      val pick =
        if (want.isEmpty) pool.minBy(t => (-t._2, t._1))
        else pool.minBy(t => (-(0.5 * t._2 - 0.5 * t._3.get), t._1))
      want = want :+ ((want.size + 1, pick._1, pick._2))
      pool = pool.filter(_._1 != pick._1).map { case (id, sq, ms) =>
        val s = cos(vec(id), vec(pick._1))
        (id, sq, Some(ms.fold(s)(math.max(_, s))))
      }
    }
    assert(got == want, s"engine $got vs reference $want")
  }

  test("mmrSelectFromCandidates: C = corpus equals plain mmrSelect; drained pool returns gathered picks") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    val full = Similarity.mmrSelect(embs, "vec_id", "embedding",
      queryId = 0L, k = 6, lambda = 0.5)
    // the pool restriction commutes with the greedy: an all-corpus
    // candidate frame must reproduce the full trajectory exactly
    val viaCands = Similarity.mmrSelectFromCandidates(embs,
      embs.select($"vec_id"), "vec_id", "embedding",
      queryId = 0L, k = 6, lambda = 0.5)
    assert(viaCands == full, s"pool=corpus diverged: $viaCands vs $full")
    // k > pool: returns the gathered picks, no throw
    val tiny = Similarity.mmrSelectFromCandidates(embs,
      embs.where($"vec_id".isin(1L, 2L, 3L)).select($"vec_id"),
      "vec_id", "embedding", queryId = 0L, k = 10, lambda = 0.5)
    assert(tiny.size == 3 && tiny.map(_._1) == Seq(1, 2, 3))
    graft.core.Caches.releaseAll()
  }

  test("mmrSelectScalable: probe-bounded picks are the pool-restricted trajectory") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    val got = Similarity.mmrSelectScalable(embs, "vec_id", "embedding",
      "label", queryId = 0L, k = 6, lambda = 0.5, probes = 2, poolC = 50)
    // reference: materialize the same probe pool explicitly, then the
    // candidates path — the scalable wrapper must be exactly probe+greedy
    val pool = Similarity.ivfTopK(embs.where($"vec_id" === 0L), embs,
        "vec_id", "vec_id", "embedding", "label", probes = 2, k = 50)
      .select($"vec_id")
    val want = Similarity.mmrSelectFromCandidates(embs, pool,
      "vec_id", "embedding", queryId = 0L, k = 6, lambda = 0.5)
    assert(got.nonEmpty && got == want)
    // diversity within relevance: all picks come from the probed pool
    val poolIds = pool.as[Long].collect().toSet
    got.foreach { case (_, id, _) => assert(poolIds.contains(id)) }
    graft.core.Caches.releaseAll()
  }

  test("autoPlanes holds bucket occupancy: a plane per corpus doubling, clamped") {
    // the selection rule that keeps the blocked self-join from
    // reverting to quadratic as the corpus grows (fixed 8 planes
    // measured 32x at 3x data once occupancy passed ~200)
    assert(Similarity.autoPlanes(200) == 8)      // small corpus: floor
    assert(Similarity.autoPlanes(4096) == 8)     // 4096/16 = 256 = 2^8
    assert(Similarity.autoPlanes(4097) == 9)     // next doubling
    assert(Similarity.autoPlanes(20000) == 11)
    assert(Similarity.autoPlanes(60000) == 12)   // the sf3 case
    assert(Similarity.autoPlanes(1L << 40) == 24) // ceiling clamp
    assert(Similarity.autoPlanes(60000, targetOccupancy = 4) == 14)
  }

  test("lshNearDupPairsAuto equals the pinned-planes operator at the chosen count") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 120).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val corpus = rows.toDF("vec_id", "embedding").cache()
    val auto = Similarity.lshNearDupPairsAuto(corpus, "vec_id", "embedding",
        tables = 4)
      .as[(Long, Long, Double)].collect().toSet
    val pinned = Similarity.lshNearDupPairs(corpus, "vec_id", "embedding",
        Similarity.autoPlanes(120), tables = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(auto == pinned)
    corpus.unpersist()
    graft.core.Caches.releaseAll()
  }

  test("lshTopK returns a subset of brute-force candidates with exact sims") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    val q = embs.where($"vec_id" === 0)
    val lsh = Similarity.lshTopK(q, embs, "vec_id", "vec_id", "embedding", 3, 5)
      .select("vec_id", "sim").as[(Long, Double)].collect().toMap
    val bf = Similarity.bruteForceTopK(q, embs, "vec_id", "vec_id", "embedding", 2000)
      .select("vec_id", "sim").as[(Long, Double)].collect().toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (id, s) => assert(bf(id) == s) } // sims agree exactly
  }

  test("ivfTopKFromStore equals the from-scratch probe and prunes cell directories") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    val queries = embs.where($"vec_id" < 5)
    Similarity.IvfStore.write(spark, embs, "vec_id", "embedding", "label",
      "spec_ivf")
    val fromStore = Similarity.ivfTopKFromStore(spark, queries, "spec_ivf",
      "vec_id", "vec_id", "embedding", "label", probes = 2, k = 10)
    val got = fromStore.select($"query_id", $"rk", $"vec_id", $"sim")
      .orderBy($"query_id", $"rk").collect().map(_.toSeq).toSeq
    val want = Similarity.ivfTopK(queries, embs, "vec_id", "vec_id",
        "embedding", "label", probes = 2, k = 10)
      .select($"query_id", $"rk", $"vec_id", $"sim")
      .orderBy($"query_id", $"rk").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // the corpus side is the store's partitioned vectors table, pruned
    // at the directory level by the probed cells (the QUERY SET still
    // comes from the caller's frame — only the corpus read moves)
    val plan = fromStore.queryExecution.executedPlan.toString
    assert(plan.contains("ivf_store_spec_ivf"), "probe must read the store")
    val vectorScan = plan.split("\n")
      .filter(l => l.contains("ivf_store_spec_ivf") && l.contains("PartitionFilters"))
    assert(vectorScan.exists(l => l.contains("PartitionFilters: [") &&
        l.contains("label") && !l.contains("PartitionFilters: []")),
      s"vectors scan did not prune cell directories:\n${plan.take(3000)}")
    graft.core.Caches.releaseAll()
  }

  test("IvfPqStore.topK equals the from-scratch composite; ADC and re-rank scans prune cell directories") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    val queries = embs.where($"vec_id" < 5)
    Similarity.IvfPqStore.write(spark, embs, "vec_id", "embedding", "label",
      blocks = 4, codes = 4, iters = 2, tag = "spec_ivfpq")
    val fromStore = Similarity.IvfPqStore.topK(spark, queries, "spec_ivfpq",
      "vec_id", "vec_id", "embedding", "label", probes = 2, cands = 30, k = 10)
    val got = fromStore.select($"query_id", $"rk", $"vec_id", $"sim")
      .orderBy($"query_id", $"rk").collect().map(_.toSeq).toSeq
    val want = Similarity.ivfPqTopK(queries, embs, "vec_id", "vec_id",
        "embedding", "label", probes = 2, blocks = 4, codes = 4, iters = 2,
        cands = 30, k = 10)
      .select($"query_id", $"rk", $"vec_id", $"sim")
      .orderBy($"query_id", $"rk").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // BOTH store scans prune at the directory level: the ADC stage
    // reads only the probed cells' CODES, the re-rank only the probed
    // cells' vectors — the raw corpus is never read
    val plan = fromStore.queryExecution.executedPlan.toString
    for (table <- Seq("codes", "vectors")) {
      val scan = plan.split("\n").filter(l =>
        l.contains(s"ivfpq_store_spec_ivfpq/$table") &&
          l.contains("PartitionFilters"))
      assert(scan.exists(l => l.contains("PartitionFilters: [") &&
          l.contains("label") && !l.contains("PartitionFilters: []")),
        s"$table scan did not prune cell directories:\n${plan.take(3000)}")
    }
    graft.core.Caches.releaseAll()
  }

  test("IvfPqStore.absorb: frozen codebooks, immutable day-0 codes, exact centroid merge") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    val day0 = embs.where($"vec_id" % 7 =!= 5)
    val delta = embs.where($"vec_id" % 7 === 5)
    Similarity.IvfPqStore.write(spark, day0, "vec_id", "embedding", "label",
      blocks = 4, codes = 4, iters = 2, tag = "spec_ipq_d0")
    Similarity.IvfPqStore.absorb(spark, "spec_ipq_d0", "spec_ipq_d1", delta,
      "vec_id", "embedding", "label")
    // (a) quantizers never retrain on add — codebooks carry verbatim
    // (deep compare: the loader returns Array[Double] payloads, which
    // compare by reference under ==)
    def deepCb(tag: String) = Similarity.IvfPqStore.codebooks(spark, tag)
      .map(_.map { case (cid, arr) => (cid, arr.toSeq) })
    assert(deepCb("spec_ipq_d1") == deepCb("spec_ipq_d0"))
    // (b) day-0 members' codes are untouched by the absorb
    def codes(tag: String, pred: org.apache.spark.sql.Column) =
      spark.read.parquet(
          Similarity.IvfPqStore.dir(tag).resolve("codes").toString)
        .where(pred)
        .select($"vec_id", $"_code0", $"_code1", $"_code2", $"_code3")
        .collect().map(_.toSeq).toSet
    assert(codes("spec_ipq_d1", $"vec_id" % 7 =!= 5)
      == codes("spec_ipq_d0", lit(true)))
    // (c) centroid numerators after absorb == a from-scratch build
    // over the full corpus (cell state is codebook-independent)
    Similarity.IvfPqStore.write(spark, embs, "vec_id", "embedding", "label",
      blocks = 4, codes = 4, iters = 2, tag = "spec_ipq_full")
    def cents(tag: String) = spark.read.parquet(
        Similarity.IvfPqStore.dir(tag).resolve("centroids").toString)
      .select($"label", $"pos", $"cn".cast("string"), $"n")
      .collect().map(_.toSeq).toSet
    assert(cents("spec_ipq_d1") == cents("spec_ipq_full"))
    // (d) the delta's codes are the frozen-codebook argmin, replayed
    // here in plain Scala (ties → smaller code, left-fold sqdist)
    val cbs = Similarity.IvfPqStore.codebooks(spark, "spec_ipq_d0")
    val len = cbs.head.head._2.length
    val deltaVecs = delta.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    val gotDelta = spark.read.parquet(
        Similarity.IvfPqStore.dir("spec_ipq_d1").resolve("codes").toString)
      .where($"vec_id" % 7 === 5)
      .select($"vec_id", $"_code0", $"_code1", $"_code2", $"_code3")
      .collect().map(r => r.getLong(0) ->
        Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    def sq(v: Array[Float], off: Int, c: Array[Double]): Double =
      c.indices.foldLeft(0.0)((acc, i) =>
        acc + (v(off + i).toDouble - c(i)) * (v(off + i).toDouble - c(i)))
    gotDelta.foreach { case (id, got) =>
      val v = deltaVecs(id)
      val want = cbs.indices.map { m =>
        cbs(m).map { case (cid, arr) => (sq(v, m * len, arr), cid) }.min._2
      }
      assert(got == want, s"frozen-codebook code mismatch for $id")
    }
    graft.core.Caches.releaseAll()
  }

  test("IvfStore.absorb == from-scratch build: exact numerator merge, identical probe") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    val queries = embs.where($"vec_id" < 5)
    val day0 = embs.where($"vec_id" % 7 =!= 3)
    val delta = embs.where($"vec_id" % 7 === 3)
    Similarity.IvfStore.write(spark, day0, "vec_id", "embedding", "label",
      "spec_ivf_d0")
    Similarity.IvfStore.absorb(spark, "spec_ivf_d0", "spec_ivf_d1", delta,
      "vec_id", "embedding", "label")
    Similarity.IvfStore.write(spark, embs, "vec_id", "embedding", "label",
      "spec_ivf_full")
    // centroid state after absorb is bit-identical to the full build —
    // the exactness the decimal-numerator representation buys
    def cents(tag: String) = Similarity.IvfStore.centroids(spark, tag)
      .select($"label", $"pos", $"cn".cast("string"), $"n")
      .collect().map(_.toSeq).toSet
    assert(cents("spec_ivf_d1") == cents("spec_ivf_full"))
    // and the day-2 probe equals the from-scratch probe
    def probe(tag: String) = Similarity.ivfTopKFromStore(spark, queries, tag,
        "vec_id", "vec_id", "embedding", "label", probes = 2, k = 10)
      .select($"query_id", $"rk", $"vec_id", $"sim")
      .orderBy($"query_id", $"rk").collect().map(_.toSeq).toSeq
    val d1 = probe("spec_ivf_d1")
    assert(d1.nonEmpty && d1 == probe("spec_ivf_full"))
    graft.core.Caches.releaseAll()
  }

  test("IvfStore.vacuum drops generation N, leaves N+1 readable, is idempotent") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    val queries = embs.where($"vec_id" < 5)
    val day0 = embs.where($"vec_id" % 7 =!= 3)
    val delta = embs.where($"vec_id" % 7 === 3)
    Similarity.IvfStore.write(spark, day0, "vec_id", "embedding", "label",
      "spec_ivfvac_d0")
    Similarity.IvfStore.absorb(spark, "spec_ivfvac_d0", "spec_ivfvac_d1",
      delta, "vec_id", "embedding", "label")
    def probe() = Similarity.ivfTopKFromStore(spark, queries,
        "spec_ivfvac_d1", "vec_id", "vec_id", "embedding", "label",
        probes = 2, k = 10)
      .select($"query_id", $"rk", $"vec_id", $"sim")
      .orderBy($"query_id", $"rk").collect().map(_.toSeq).toSeq
    val before = probe()
    assert(before.nonEmpty)
    Similarity.IvfStore.vacuum(spark, "spec_ivfvac_d0")
    assert(!java.nio.file.Files.exists(
        Similarity.IvfStore.dir("spec_ivfvac_d0")),
      "vacuum must remove generation N's directory tree")
    // generation N+1 materialized its own files under absorb —
    // nothing in it references the vacuumed generation
    assert(probe() == before, "gen N+1 probe changed after vacuuming gen N")
    Similarity.IvfStore.vacuum(spark, "spec_ivfvac_d0") // idempotent
    Similarity.IvfStore.vacuum(spark, "spec_ivfvac_never_written") // not an error
    graft.core.Caches.releaseAll()
  }

  test("IvfPqStore.vacuum drops generation N, leaves N+1 readable, is idempotent") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    val queries = embs.where($"vec_id" < 5)
    val day0 = embs.where($"vec_id" % 7 =!= 5)
    val delta = embs.where($"vec_id" % 7 === 5)
    Similarity.IvfPqStore.write(spark, day0, "vec_id", "embedding", "label",
      blocks = 4, codes = 4, iters = 2, tag = "spec_ipqvac_d0")
    Similarity.IvfPqStore.absorb(spark, "spec_ipqvac_d0", "spec_ipqvac_d1",
      delta, "vec_id", "embedding", "label")
    def probe() = Similarity.IvfPqStore.topK(spark, queries,
        "spec_ipqvac_d1", "vec_id", "vec_id", "embedding", "label",
        probes = 2, cands = 30, k = 10)
      .select($"query_id", $"rk", $"vec_id", $"sim")
      .orderBy($"query_id", $"rk").collect().map(_.toSeq).toSeq
    val before = probe()
    assert(before.nonEmpty)
    Similarity.IvfPqStore.vacuum(spark, "spec_ipqvac_d0")
    assert(!java.nio.file.Files.exists(
        Similarity.IvfPqStore.dir("spec_ipqvac_d0")),
      "vacuum must remove generation N's directory tree")
    assert(probe() == before, "gen N+1 probe changed after vacuuming gen N")
    Similarity.IvfPqStore.vacuum(spark, "spec_ipqvac_d0") // idempotent
    graft.core.Caches.releaseAll()
  }

  test("semanticDedup drops planted near-dups to their min-id witness") {
    // Two clean clusters around e_x (ids 0,2,4) and e_y (ids 1,3,5);
    // id 6 lands in the y-cluster but is no one's near-dup at τ=0.99.
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.95f, 0.05f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f)),
      (4L, Array(1.0f, 0.02f, 0.0f)),
      (5L, Array(0.05f, 1.0f, 0.0f)),
      (6L, Array(0.6f, 0.8f, 0.0f))).toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.semanticDedup(d, "vec_id", "embedding",
        k = 2, iters = 2, tau = 0.99)
    val out = run(df).select($"vec_id", $"cluster", $"kept")
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (0L to 6L))
    val kept = out.filter(_._3 == 1).map(_._1).toSet
    assert(kept == Set(0L, 1L, 6L))
    // every dropped id has a KEPT same-cluster witness with a smaller id
    out.filter(_._3 == 0).foreach { case (id, c, _) =>
      val witnesses = out.filter(r => r._3 == 1 && r._2 == c && r._1 < id)
      assert(witnesses.nonEmpty, s"dropped $id in cluster $c has no kept witness")
    }
    // partition-invariant: same result from a 7-way repartition
    val re = run(df.repartition(7)).select($"vec_id", $"cluster", $"kept")
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(re.toSeq == out.toSeq)
  }

  test("semanticDedupScalable == semanticDedup, including under duplication") {
    import org.apache.spark.sql.functions.col
    // the planted-cluster frame above, PLUS a 3× exact replication of
    // id 2 and a 2× replication of id 5 (shifted ids — mixed
    // multiplicities, the case where unweighted rep clustering would
    // move the centroids and diverge)
    val base = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.95f, 0.05f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f)),
      (4L, Array(1.0f, 0.02f, 0.0f)),
      (5L, Array(0.05f, 1.0f, 0.0f)),
      (6L, Array(0.6f, 0.8f, 0.0f))).toDF("vec_id", "embedding")
    val dup = base
      .unionAll(base.where(col("vec_id") === 2L)
        .withColumn("vec_id", col("vec_id") + 100L))
      .unionAll(base.where(col("vec_id") === 2L)
        .withColumn("vec_id", col("vec_id") + 200L))
      .unionAll(base.where(col("vec_id") === 5L)
        .withColumn("vec_id", col("vec_id") + 300L))
    def collect(d: org.apache.spark.sql.DataFrame) =
      d.select($"vec_id", $"cluster", $"kept")
        .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    val plain = collect(Similarity.semanticDedup(
      dup, "vec_id", "embedding", k = 2, iters = 2, tau = 0.99))
    val scalable = collect(Similarity.semanticDedupScalable(
      dup, "vec_id", "embedding", k = 2, iters = 2, tau = 0.99))
    assert(plain.nonEmpty)
    assert(scalable == plain)
    // the replicas (non-rep family members) are all dropped
    assert(scalable.filter(_._1 >= 100L).forall(_._3 == 0))
  }

  test("exact-collapse: duplicates collapse to min-id reps, LSH pairs unchanged") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val base = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
      .select(col("vec_id"), col("embedding"))
    // replicate 3× with shifted ids — identical vectors, like a
    // duplicated corpus (the sf10 regime that defeats pure LSH)
    val dup = base
      .unionAll(base.withColumn("vec_id", col("vec_id") + 1000000L))
      .unionAll(base.withColumn("vec_id", col("vec_id") + 2000000L))
    val reps = Similarity.exactCollapseEmbeddings(dup, "vec_id", "embedding")
    // one rep per distinct vector, and always the ORIGINAL (min) id
    assert(reps.count() === base.select("embedding").distinct().count())
    assert(reps.where(col("vec_id") >= 1000000L).count() === 0)
    // the composed pairs equal the undup'd corpus' pairs exactly
    val a = Similarity.lshNearDupPairs(reps, "vec_id", "embedding", 8, 4)
    val b = Similarity.lshNearDupPairs(
      Similarity.exactCollapseEmbeddings(base, "vec_id", "embedding"),
      "vec_id", "embedding", 8, 4)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }
}
