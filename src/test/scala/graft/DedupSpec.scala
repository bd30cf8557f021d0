package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Gate, Tables}
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `body` with `gate` forced to its distributed branch, checking
    * that `gate` decided inside it and every other gate that decided
    * took its local branch. */
  private def forced[A](gate: Gate)(body: => A): A = {
    val (a, log) = Gate.logged(Set(gate))(body)
    assert(log.contains(Gate.Decision(gate, local = false)) &&
      log.forall(d => d.local != (d.gate == gate)), log)
    a
  }

  test("exactDedup keeps the smallest id per content") {
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("id", "text")
    val out = Dedup.exactDedup(df, "id", Seq("text"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 2L))
  }

  test("nearDupPairs finds a planted near-duplicate, skips distinct") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tonight")
    val other = "completely different words in this sentence about spark engines running fast"
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("nearDupPairsAfterExact collapses exact copies to one representative") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tonight")
    // ids 1/5/9 are identical copies; 2 is a near-dup; 3 is distinct
    val df = Seq((1L, base), (5L, base), (9L, base), (2L, near),
      (3L, "completely different words in this sentence about spark engines"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairsAfterExact(df, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // only the representative (smallest id, 1) pairs with the near-dup;
    // the exact copies 5/9 never reach the LSH join
    assert(pairs == Set((1L, 2L)))
  }

  /** The reference signature composition the kernel replaced: explode
    * each set, md5Wid per shingle, a k-way grouped min by id. */
  private def explodedSignatures(sets: DataFrame, k: Int = 12) =
    Dedup.minhashSignatures(sets.select(col("doc_id"), explode(col("shset")).as("sh"))
      .withColumn("wid", Dedup.md5Wid(col("sh"))), "doc_id", "wid", k)

  /** sf0.01's documents plus texts at the shingler's edges: null,
    * empty, shorter than n words, unicode, repeated shingles. */
  private def signatureCorpus =
    Seq[(Long, String)]((-1L, null), (-2L, ""), (-3L, "two words"),
        (-4L, "naïve café — 日本語 テキスト の 例 です ✓ ∑"),
        (-5L, "a b c a b c a b c a b c"), (-6L, "   "))
      .toDF("doc_id", "text")
      .unionByName(Tables.documents(spark, TestSpark.CorrectnessSfDir).select("doc_id", "text"))

  test("the MinHash kernel equals minhashSignatures over exploded md5Wid ids, bit for bit") {
    val sets = Dedup.shingleSets(signatureCorpus, "doc_id", "text").persist()
    try {
      def rows(df: DataFrame) = df.collect()
        .map(r => r.getLong(0) -> (1 to 12).map(r.getLong)).sortBy(_._1).toSeq
      val kernel = rows(Dedup.setSignatures(sets, "doc_id", "shset", 12))
      assert(kernel == rows(explodedSignatures(sets)))
      // the null text has no signature, as explode gives it no row
      assert(kernel.size == sets.count() - 1 && !kernel.exists(_._1 == -1L))
      // interpreted eval runs the same loop as the generated code
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.ArrayData
      import org.apache.spark.sql.types.{ArrayType, StringType}
      val bySet = sets.where(col("shset").isNotNull).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      for ((id, sig) <- kernel) {
        val set = ArrayData.toArrayData(bySet(id).map(
          org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
        val eval = graft.plans.MinHashSignature(
          Literal.create(set, ArrayType(StringType)), 12, Dedup.WidSeed).eval()
        assert(eval.asInstanceOf[ArrayData].toLongArray().toSeq == sig, s"doc $id")
      }
      // the kernel runs once per row: one projection, not one per mh_i
      val plan = Dedup.setSignatures(sets, "doc_id", "shset", 12)
        .queryExecution.optimizedPlan.toString
      assert("minhashsignature".r.findAllIn(plan.toLowerCase).length == 1, plan)
    } finally sets.unpersist()
  }

  test("nearDupPairs and bandedSignatures give the rows of the exploded composition") {
    val docs = signatureCorpus.where(col("doc_id").isNotNull)
    val sets = Dedup.shingleSets(docs, "doc_id", "text").persist()
    try {
      val old = Dedup.jaccardForPairs(
          Dedup.lshCandidatePairsNative(explodedSignatures(sets), "doc_id", 4, 3),
          sets, "doc_id", "shset")
        .where(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .as[(Long, Long, Double)].collect().sorted.toSeq
      val got = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      assert(old.nonEmpty && got == old)
      val oldBanded = Dedup.bandExplode(explodedSignatures(sets), "doc_id", 4, 3)
        .as[(Long, Int, String)].collect().sorted.toSeq
      assert(Dedup.bandedSignatures(docs, "doc_id", "text")
        .as[(Long, Int, String)].collect().sorted.toSeq == oldBanded)
    } finally {
      sets.unpersist()
      graft.core.Caches.releaseAll()
    }
  }

  test("lsh bucket cap bounds an adversarial mega-bucket, is a no-op otherwise") {
    // 200 docs sharing one 12-wide signature → one bucket per band:
    // uncapped candidates C(200,2); capped at 8, at most C(8,2)
    val sigs = spark.range(0, 200).toDF("doc_id")
      .select(col("doc_id") +: (0 until 12).map(i => lit(i.toLong).as(s"mh_$i")): _*)
    val uncapped = Dedup.lshCandidatePairs(sigs, "doc_id", 4, 3).count()
    graft.core.Caches.releaseAll()
    assert(uncapped == 200L * 199 / 2)
    val capped = Dedup.lshCandidatePairs(sigs, "doc_id", 4, 3, maxBucketSize = 8)
    val cappedPairs = capped.as[(Long, Long)].collect().toSet
    graft.core.Caches.releaseAll()
    assert(cappedPairs.size == 8 * 7 / 2)
    // deterministic: the cap keeps the SMALLEST ids per bucket
    assert(cappedPairs.flatMap(p => Set(p._1, p._2)) == (0L until 8L).toSet)
    // and the capped plan's window is PARTITIONED BY the bucket keys
    // (a regression to a global window would print a spec without them)
    val plan = capped.queryExecution.optimizedPlan.toString
    assert("windowspecdefinition\\(band#\\d+L?, bsig#\\d+".r
      .findFirstIn(plan).isDefined, plan)
    // sanity: when no bucket exceeds the cap, results are identical
    val small = spark.range(0, 5).toDF("doc_id")
      .select(col("doc_id") +:
        (0 until 12).map(i => (col("doc_id") * 100 + i).as(s"mh_$i")): _*)
    val a = Dedup.lshCandidatePairs(small, "doc_id", 4, 3).collect().toSet
    graft.core.Caches.releaseAll()
    val b = Dedup.lshCandidatePairs(small, "doc_id", 4, 3, maxBucketSize = 8)
      .collect().toSet
    graft.core.Caches.releaseAll()
    assert(a == b)
  }

  test("simhash: identical shingle sets → identical fingerprints") {
    val ids = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 99L))
      .toDF("doc_id", "wid")
    val fps = Dedup.simhashFingerprints(ids, "doc_id", "wid")
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("simhashPairs pigeonhole blocking recalls pairs differing only in the top byte") {
    // planted fingerprints: 1↔2 differ ONLY in bits 13..15 (the old
    // high-byte block would never compare them); 3 is far from both.
    val fps = Seq(
      (1L, 0x1234L),
      (2L, 0x1234L ^ 0xE000L), // Hamming 3, all in the top segment
      (3L, 0x0F0FL ^ 0xFFFFL)
    ).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairs(fps, "doc_id", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 3)))
  }

  test("simhashPairs emits each qualifying pair once despite multi-segment collisions") {
    // identical fingerprints collide in all 4 segments → must still be 1 row
    val fps = Seq((1L, 0xABCDL), (2L, 0xABCDL)).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairs(fps, "doc_id", maxHamming = 3).collect()
    assert(pairs.length == 1)
  }

  test("simhashPairs equals brute-force all-pairs at Hamming <= 3 (recall property)") {
    // 120 seeded pseudo-random 16-bit fingerprints, biased so some
    // pairs land within Hamming 3: blocking must lose NOTHING
    val rnd = new scala.util.Random(1234)
    val base = Seq.fill(30)(rnd.nextInt(1 << 16).toLong)
    val fps = base.zipWithIndex.flatMap { case (f, i) =>
      Seq(
        (i * 4L,     f),
        (i * 4L + 1, f ^ (1L << rnd.nextInt(16))),               // Hamming 1
        (i * 4L + 2, f ^ (7L << rnd.nextInt(13))),               // Hamming 3, contiguous
        (i * 4L + 3, f ^ (1L << rnd.nextInt(16)) ^ (1L << 15)))  // includes the top bit
    }
    val df = fps.toDF("doc_id", "simhash")
    val got = Dedup.simhashPairs(df, "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (for {
      (a, fa) <- fps; (b, fb) <- fps
      if a < b && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (a, b)).toSet
    assert(got == want)
  }

  test("simhashPairs full recall at 64 bits / 8 segments (pigeonhole at production width)") {
    // 160 planted 64-bit fingerprints: Hamming-1, contiguous
    // Hamming<=7, and top-bit-involving pairs. 8-segment blocking must
    // equal brute force at maxHamming = 7 (7 < 8 segments → at least
    // one 8-bit segment always intact).
    val rnd = new scala.util.Random(99)
    val base = Seq.fill(40)(rnd.nextLong())
    val fps = base.zipWithIndex.flatMap { case (f, i) =>
      Seq(
        (i * 4L,     f),
        (i * 4L + 1, f ^ (1L << rnd.nextInt(64))),
        (i * 4L + 2, f ^ (0x7fL << rnd.nextInt(57))),           // Hamming <= 7, contiguous
        (i * 4L + 3, f ^ (1L << 63) ^ (1L << rnd.nextInt(63)))) // includes the sign bit
    }
    val df = fps.toDF("doc_id", "simhash")
    val got = Dedup.simhashPairs(df, "doc_id", maxHamming = 7,
        bits = 64, segments = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (for {
      (a, fa) <- fps; (b, fb) <- fps
      if a < b && java.lang.Long.bitCount(fa ^ fb) <= 7
    } yield (a, b)).toSet
    assert(got == want)
  }

  test("64-bit fingerprints actually spread beyond the LCG's 31 bits") {
    val ids = (1L to 400L).map(w => (w % 10, w * 131 % 1000003)).toDF("doc_id", "wid")
    val fps = Dedup.simhashFingerprints(ids, "doc_id", "wid", bits = 64)
    // some fingerprint must set a bit >= 32 (the 16/31-bit LCG path
    // cannot — this catches a silent fall-back to the narrow hash)
    val high = fps.where(shiftright(col("simhash"), 32) =!= 0).count()
    assert(high > 0, "no fingerprint used bits >= 32")
    // and the end-to-end wide pipeline stays self-consistent: identical
    // shingle-id sets → identical 64-bit fingerprints
    val dup = Seq((1L, 7L), (1L, 9L), (2L, 7L), (2L, 9L)).toDF("doc_id", "wid")
    val two = Dedup.simhashFingerprints(dup, "doc_id", "wid", bits = 64)
      .as[(Long, Long)].collect().toMap
    assert(two(1L) == two(2L))
  }

  test("minhash signature similarity tracks jaccard") {
    val a = (1L to 40L).map((1L, _))
    val b = (1L to 40L).map((2L, _))            // identical to a
    val c = (100L to 140L).map((3L, _))         // disjoint
    val df = (a ++ b ++ c).toDF("doc_id", "wid")
    val sigs = Dedup.minhashSignatures(df, "doc_id", "wid", 8).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("connectedComponents: transitive pairs resolve to one keeper per group") {
    // {1,2,3} via 1–2, 2–3 (transitive); {8,9} direct; 5 never appears
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 8L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("connectedComponents rejects non-integral id columns at plan time") {
    // string keys under cast(long) would become NULL silently and
    // corrupt the edge list — the guard fails fast instead
    val strPairs = Seq(("a", "b")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(strPairs, "id_a", "id_b")
    }
    assert(e.getMessage.contains("must be an integral type"), e.getMessage)
  }

  test("connectedComponents: rounds track the chain (log-bounded), not the node count") {
    // a path graph 0–1–2–…–9: the worst shape — the min label must
    // travel from one end; path halving contracts it in O(log 9) rounds
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, itersChain) =
      forced(Gate.CcEdgeEnds)(Dedup.connectedComponentsWithIters(chain, "id_a", "id_b"))
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
    assert(itersChain <= 7, s"9-edge path took $itersChain rounds (want ~log)")
    // 200 extra 2-cliques (400 nodes): same chain, same round count —
    // corpus size does not drive iterations
    val wide = chain.union(
      (100L until 300L).map(i => (2 * i, 2 * i + 1)).toDF("id_a", "id_b"))
    val (_, itersWide) =
      forced(Gate.CcEdgeEnds)(Dedup.connectedComponentsWithIters(wide, "id_a", "id_b"))
    assert(itersWide == itersChain, s"$itersWide != $itersChain")
    // and a pure clique corpus converges in ~2 rounds regardless of size
    val cliques = (0L until 200L).map(i => (2 * i, 2 * i + 1)).toDF("id_a", "id_b")
    val (_, itersCliques) =
      forced(Gate.CcEdgeEnds)(Dedup.connectedComponentsWithIters(cliques, "id_a", "id_b"))
    assert(itersCliques <= 2, s"cliques took $itersCliques rounds")
  }

  test("incremental dedup == full run restricted to delta-touching pairs; corpus never shuffles") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different content about large scale data systems"),
      (10L, "the quick brown fox jumps over the lazy dog this morning"), // delta: near-dups 1,2
      (20L, "totally novel delta document with brand new words"),
      (30L, "totally novel delta document with brand new words indeed")  // delta-internal pair w/ 20
    ).toDF("doc_id", "text")
    val delta = docs.where($"doc_id" >= 10L)
    val corpus = docs.where($"doc_id" < 10L)
    val incr = Dedup.incrementalNearDupPairs(
      Dedup.bandedSignatures(delta, "doc_id", "text"),
      Dedup.bandedSignatures(corpus, "doc_id", "text"),
      Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", threshold = 0.3)
    // restriction identity vs the full run
    val full = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.3)
      .where($"id_a" >= 10L || $"id_b" >= 10L)
    val a = incr.as[(Long, Long, Double)].collect().toSet
    val b = full.as[(Long, Long, Double)].collect().toSet
    assert(a == b, s"incremental $a != restricted-full $b")
    assert(a.exists { case (x, y, _) => x < 10L && y >= 10L }, "no cross pair found")
    assert(a.contains((20L, 30L, a.find(p => p._1 == 20L).get._3)), "no internal pair")
    // the candidates are verified on the driver: the result is a
    // local relation
    assert(incr.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      incr.queryExecution.optimizedPlan)
    // the probe must broadcast the DELTA side — the corpus is
    // scanned, never shuffled (no Exchange feeding its join side)
    val probe = Dedup.probeBanded(Dedup.bandedSignatures(corpus, "doc_id", "text"),
      Dedup.bandedSignatures(delta, "doc_id", "text"), "doc_id")
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // and per-row signatures put no hash shuffle on either side
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(1500))
    graft.core.Caches.releaseAll()
  }

  test("mergeSignatureStore upsert == recomputing frames over corpus+delta") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different content about large scale data systems")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (2L, "doc two was re-ingested with entirely rewritten text"), // upsert
      (10L, "a brand new delta document arriving on day two")
    ).toDF("doc_id", "text")
    val merged = corpus.where($"doc_id" =!= 2L).unionByName(delta)
    // both persisted frames obey the identity, including the re-ingest
    val gotB = Dedup.mergeSignatureStore(
      Dedup.bandedSignatures(corpus, "doc_id", "text"),
      Dedup.bandedSignatures(delta, "doc_id", "text"), "doc_id")
      .as[(Long, Int, String)].collect().toSet
    val wantB = Dedup.bandedSignatures(merged, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    assert(gotB == wantB)
    val gotS = Dedup.mergeSignatureStore(
      Dedup.shingleSets(corpus, "doc_id", "text"),
      Dedup.shingleSets(delta, "doc_id", "text"), "doc_id")
      .as[(Long, Seq[String])].collect().map { case (i, s) => (i, s.toSet) }.toSet
    val wantS = Dedup.shingleSets(merged, "doc_id", "text")
      .as[(Long, Seq[String])].collect().map { case (i, s) => (i, s.toSet) }.toSet
    assert(gotS == wantS)
    // stale band rows for the re-ingested doc must be gone
    val day1Doc2 = Dedup.bandedSignatures(corpus, "doc_id", "text")
      .where($"doc_id" === 2L).as[(Long, Int, String)].collect().toSet
    assert(gotB.intersect(day1Doc2).isEmpty, "stale pre-upsert rows survived")
  }

  test("persisted signature store: on-disk probe matches in-memory and plans zero store-side Exchange") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different content about large scale data systems"),
      (10L, "the quick brown fox jumps over the lazy dog this morning"),
      (20L, "totally novel delta document with brand new words"),
      (30L, "totally novel delta document with brand new words indeed")
    ).toDF("doc_id", "text")
    val delta = docs.where($"doc_id" >= 10L)
    val corpus = docs.where($"doc_id" < 10L)
    Dedup.SignatureStore.write(spark, corpus, "doc_id", "text", "spec",
      buckets = 4)
    val nb = Dedup.bandedSignatures(delta, "doc_id", "text")
    val allSets = Dedup.SignatureStore.sets(spark, "spec")
      .unionByName(Dedup.shingleSets(delta, "doc_id", "text"))
    val got = Dedup.incrementalNearDupPairsFromStore(nb,
        Dedup.SignatureStore.banded(spark, "spec"), allSets, "doc_id",
        threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val want = Dedup.incrementalNearDupPairs(
        Dedup.bandedSignatures(delta, "doc_id", "text"),
        Dedup.bandedSignatures(corpus, "doc_id", "text"),
        Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"store-backed $got != in-memory $want")
    assert(got.nonEmpty)
    // the probe itself: sort-merge against the bucketed store — the
    // ONLY exchange is the delta side (store read in place). Broadcast
    // disabled so the 100 TB (big-delta) planner shape is what's
    // asserted, as in BucketingSpec.
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(spark.conf.set(_, "-1"))
    val plan = try {
      val probe = Dedup.probeSignatureStore(
        Dedup.SignatureStore.banded(spark, "spec"), nb, "doc_id")
      probe.collect() // AQE: final plan only after execution
      probe.queryExecution.executedPlan.toString
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    assert(plan.contains("SortMergeJoin"), plan.take(1200))
    assert(plan.contains("Bucketed: true"), s"store scan not bucketed:\n$plan")
    // count exchanges in the JOIN region only — the text below the
    // cache boundary is the delta frame's own (cached) build plan,
    // not part of the probe
    val joinRegion = plan.split("InMemoryRelation").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(joinRegion).length
    assert(exchanges == 1,
      s"expected exactly the delta-side exchange, found $exchanges:\n$joinRegion")
    graft.core.Caches.releaseAll()
  }

  test("absorb re-persists the merged store: day-2 frames equal a from-scratch build and the probe keeps its plan contract") {
    val docsAll = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different content about large scale data systems"),
      (11L, "day one delta document with its own brand new words"),
      (21L, "the quick brown fox jumps over the lazy dog this evening")
    ).toDF("doc_id", "text")
    val day0   = docsAll.where($"doc_id" < 10L)
    val delta1 = docsAll.where($"doc_id" >= 10L && $"doc_id" < 20L)
    val delta2 = docsAll.where($"doc_id" >= 20L)
    Dedup.SignatureStore.write(spark, day0, "doc_id", "text", "absorb0",
      buckets = 4)
    Dedup.SignatureStore.absorb(spark, "absorb0", "absorb1", delta1,
      "doc_id", "text", buckets = 4)
    // the re-persisted generation equals frames built from scratch
    // over day0 ∪ delta1 — the identity that keeps day N == day 0
    val gen1 = day0.unionByName(delta1)
    val gotB = Dedup.SignatureStore.banded(spark, "absorb1")
      .as[(Long, Int, String)].collect().toSet
    val wantB = Dedup.bandedSignatures(gen1, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    assert(gotB == wantB, "re-persisted banded frame drifted from from-scratch build")
    val gotS = Dedup.SignatureStore.sets(spark, "absorb1")
      .as[(Long, Seq[String])].collect().map { case (i, s) => (i, s.toSet) }.toSet
    val wantS = Dedup.shingleSets(gen1, "doc_id", "text")
      .as[(Long, Seq[String])].collect().map { case (i, s) => (i, s.toSet) }.toSet
    assert(gotS == wantS, "re-persisted sets frame drifted from from-scratch build")
    // day-2 probe off the RE-persisted store: same zero-store-side-
    // Exchange sort-merge contract as the day-1 store (the bucketed
    // layout survived the absorb rewrite). The delta frame is cached
    // (as the real FromStore path caches it), so the plan below the
    // InMemoryRelation boundary is the delta's build, not the probe —
    // same region split as the day-1 assertion above.
    val nb2 = graft.core.Caches.track(
      Dedup.bandedSignatures(delta2, "doc_id", "text"))
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(spark.conf.set(_, "-1"))
    val (rows, plan) = try {
      val probe = Dedup.probeSignatureStore(
        Dedup.SignatureStore.banded(spark, "absorb1"), nb2, "doc_id")
      val r = probe.collect() // AQE: final plan only after execution
      (r, probe.queryExecution.executedPlan.toString)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // doc 21 is a near-dup of docs 1/2 → candidate pairs must surface
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      .exists(p => p._2 == 21L), s"day-2 delta found no candidates: ${rows.toSeq}")
    assert(plan.contains("SortMergeJoin"), plan.take(1200))
    assert(plan.contains("Bucketed: true"), s"re-persisted store scan not bucketed:\n$plan")
    val joinRegion = plan.split("InMemoryRelation").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(joinRegion).length
    assert(exchanges == 1,
      s"expected exactly the delta-side exchange after re-persist, found $exchanges:\n$joinRegion")
    graft.core.Caches.releaseAll()
  }

  test("store-backed verification joins broadcast the cands side; the sets union is never hash-shuffled") {
    // the layout story the SignatureStore scaladoc documents: cands
    // are tiny (bands only collide near-dups), so verification
    // BROADCASTS them and streams the sets union in place — the sets
    // table's id-bucketing is for group-resolution reads and a future
    // big-cands SMJ regime, not this join
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different content about large scale data systems")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog this morning")
    ).toDF("doc_id", "text")
    Dedup.SignatureStore.write(spark, corpus, "doc_id", "text", "setsdoc",
      buckets = 4)
    val allSets = Dedup.SignatureStore.sets(spark, "setsdoc")
      .unionByName(Dedup.shingleSets(delta, "doc_id", "text"))
    val cands = Seq((1L, 10L), (2L, 10L)).toDF("id_a", "id_b")
    val verified = Dedup.jaccardForPairs(cands, allSets, "doc_id", "shset")
    verified.collect()
    val plan = verified.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"verification joins did not broadcast the cands side:\n${plan.take(1500)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the sets union was hash-shuffled for verification:\n${plan.take(1500)}")
  }

  test("nearDupClusters groups the planted near-dups around the smallest keeper") {
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "the quick brown fox jumps over the lazy dog today"),   // exact dup
      (12L, "the quick brown fox jumps over the lazy dog tonight"), // near dup
      (20L, "completely different content about large scale data systems"),
      (30L, "another unrelated document with its own words entirely")
    ).toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text",
      threshold = 0.5)
      .as[(Long, Long, Long)].collect().toSet
    // 11 collapsed into 10 by the exact stage; 10 and 12 cluster with
    // keeper 10 and size 2; 20/30 have no near-dups → absent
    assert(clusters == Set((10L, 10L, 2L), (12L, 10L, 2L)))
  }

  test("vacuum reclaims the old generation without touching the absorbed one") {
    val docsAll = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content about large scale data systems"),
      (11L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val day0 = docsAll.where($"doc_id" < 10L)
    val delta = docsAll.where($"doc_id" >= 10L)
    Dedup.SignatureStore.write(spark, day0, "doc_id", "text", "vac0", buckets = 4)
    Dedup.SignatureStore.absorb(spark, "vac0", "vac1", delta,
      "doc_id", "text", buckets = 4)
    val gen1Before = Dedup.SignatureStore.banded(spark, "vac1")
      .as[(Long, Int, String)].collect().toSet

    Dedup.SignatureStore.vacuum(spark, "vac0")
    // old generation fully gone: catalog and disk
    assert(!spark.catalog.tableExists(Dedup.SignatureStore.table("vac0", "banded")))
    assert(!spark.catalog.tableExists(Dedup.SignatureStore.table("vac0", "sets")))
    val oldDir = java.nio.file.Paths.get(
      Dedup.SignatureStore.root, "sig_store_vac0")
    assert(!java.nio.file.Files.exists(oldDir), s"$oldDir survived vacuum")
    // the absorbed generation is self-contained: identical after vacuum
    val gen1After = Dedup.SignatureStore.banded(spark, "vac1")
      .as[(Long, Int, String)].collect().toSet
    assert(gen1After == gen1Before && gen1After.nonEmpty)
    // idempotent: vacuuming a missing generation is a no-op
    Dedup.SignatureStore.vacuum(spark, "vac0")
    Dedup.SignatureStore.vacuum(spark, "vac1")
  }

  test("group resolution: exchange-free bucket census, bucket-pruned member fetch") {
    // planted group: three IDENTICAL texts share every band signature,
    // so the largest LSH bucket is exactly the trio (band 0 wins ties)
    val docs = Seq(
      (3L, "the quick brown fox jumps over the lazy dog today"),
      (7L, "the quick brown fox jumps over the lazy dog today"),
      (9L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content about large scale data systems"),
      (5L, "totally novel document with brand new words indeed")
    ).toDF("doc_id", "text")
    Dedup.SignatureStore.write(spark, docs, "doc_id", "text", "grspec",
      buckets = 4)

    // bucket census: grouped on exactly the banded table's bucket key —
    // the whole aggregation plans with ZERO Exchange of any kind
    val census = Dedup.SignatureStore.bucketCounts(spark, "grspec")
    census.collect()
    val cplan = census.queryExecution.executedPlan.toString
    assert(!cplan.contains("Exchange"), s"bucket census shuffled:\n$cplan")
    assert(cplan.contains("Bucketed: true"), cplan)

    val res = Dedup.SignatureStore.resolveLargestGroup(spark, "grspec", "doc_id")
    val rows = res.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the trio, rep = min id, identical sets → jaccard 1.0 throughout
    assert(rows.map(_._1).toSeq == Seq(3L, 7L, 9L), rows.toSeq)
    assert(rows.forall(_._3 == 1.0), rows.toSeq)
    assert(rows.map(_._2).distinct.length == 1, rows.toSeq)

    val plan = res.queryExecution.executedPlan.toString
    // member fetch reads ONLY the buckets the ids hash to
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).toSeq
    assert(sel.nonEmpty, s"no bucket pruning in:\n$plan")
    assert(sel.forall(m => m.group(1).toInt < m.group(2).toInt),
      s"sets scan read every bucket:\n$plan")
    // the store is never shuffled — the only exchange is the final
    // group-sized ORDER BY (range partitioning)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"store-side hash exchange in:\n$plan")
  }

  test("jaccardForPairsAdaptive equals jaccardForPairs and never shuffles the sets frame") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different content about large scale data systems"),
      (4L, "the quick brown fox jumps over the lazy dog this morning")
    ).toDF("doc_id", "text")
    // the sets behind an RDD, so the set gate runs a job over them
    val sets = distributed(Dedup.shingleSets(docs, "doc_id", "text"))
    val cands = Seq((1L, 2L), (1L, 4L), (2L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val sc = spark.sparkContext
    val (stages, shuffled) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicLong)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffled.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    sc.addSparkListener(listener)
    val adaptive = try {
      val built = Dedup.jaccardForPairsAdaptive(cands, sets, "doc_id", "shset")
      org.apache.spark.sql.GraftShims.drainListenerBus(sc)
      built
    } finally sc.removeSparkListener(listener)
    val got = adaptive.orderBy("id_a", "id_b").collect().toSeq
    val want = Dedup.jaccardForPairs(cands, sets, "doc_id", "shset")
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy("id_a", "id_b").collect().toSeq
    assert(got == want)
    // the measured-small branch computes the Jaccards on the driver:
    // its rows are a local relation, and the corpus-sized sets frame is
    // only scanned by the set gate's job, never shuffled
    assert(adaptive.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      adaptive.queryExecution.optimizedPlan)
    assert(stages.get >= 1 && shuffled.get == 0,
      s"the set gate ran ${stages.get} stages writing ${shuffled.get} shuffle bytes")
  }

  test("connectedComponents: message-union rounds resolve a planted path + star exactly") {
    // a 6-node path (worst shape for round count — exercises several
    // changing rounds) plus a star and an isolated pair
    val pathEdges = (10L until 15L).map(i => (i, i + 1))
    val starEdges = Seq((20L, 21L), (20L, 22L), (20L, 23L))
    val pairEdge  = Seq((30L, 31L))
    val pairs = (pathEdges ++ starEdges ++ pairEdge).toDF("id_a", "id_b")
    val (labels, iters) =
      forced(Gate.CcEdgeEnds)(Dedup.connectedComponentsWithIters(pairs, "id_a", "id_b"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (10L to 15L).foreach(i => assert(got(i) == 10L, s"path node $i → ${got(i)}"))
    (20L to 23L).foreach(i => assert(got(i) == 20L, s"star node $i → ${got(i)}"))
    Seq(30L, 31L).foreach(i => assert(got(i) == 30L, s"pair node $i → ${got(i)}"))
    assert(got.size == 12)
    // path halving: the 6-path converges in O(log n) rounds, and the
    // final round is the zero-change fixpoint confirmation
    assert(iters >= 2 && iters <= 6, s"iters=$iters")
  }

  /** The 12-node planted graph: a 6-node path, a 4-node star and an
    * isolated pair. */
  private def plantedPairs =
    ((10L until 15L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L))).toDF("id_a", "id_b")

  test("connectedComponents: the driver union-find and label propagation return identical rows") {
    val cliques = for (c <- 0L until 3L; a <- 0L until 4L; b <- a + 1 until 4L)
      yield (100 * c + a, 100 * c + b)
    val graphs = Seq(
      "planted path + star + pair" -> plantedPairs,
      "cliques" -> cliques.toDF("id_a", "id_b"),
      "duplicate pairs" -> Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L)).toDF("id_a", "id_b"),
      "reversed pairs" -> Seq((5L, 4L), (4L, 5L), (6L, 5L)).toDF("id_a", "id_b"),
      "self-pairs" -> Seq((7L, 7L), (9L, 9L), (9L, 8L)).toDF("id_a", "id_b"),
      "int ids" -> Seq((3, 2), (2, 1), (50, 40)).toDF("id_a", "id_b"))
    for ((name, pairs) <- graphs) {
      val (driver, rounds) = Dedup.connectedComponentsWithIters(pairs, "id_a", "id_b")
      assert(rounds == 0, s"$name: the small graph did not take the driver path")
      val (loop, loopRounds) =
        forced(Gate.CcEdgeEnds)(Dedup.connectedComponentsWithIters(pairs, "id_a", "id_b"))
      assert(loopRounds >= 1)
      val got = driver.as[(Long, Long)].collect().sorted.toSeq
      val want = loop.as[(Long, Long)].collect().sorted.toSeq
      assert(got == want, s"$name: driver $got != loop $want")
    }
    // self-pairs are nodes of their own; 8 joins 9's group
    val self = Dedup.connectedComponents(graphs(4)._2, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(self == Map(7L -> 7L, 8L -> 8L, 9L -> 8L))
  }

  /** Spark jobs `build` and then `act` on its frame start. */
  private def jobs(build: => DataFrame)
                  (act: DataFrame => Unit = _ => ()): Int =
    graft.core.Harness.run(spark, TestSpark.SfDir, (_, _) => build)(act)
      .fold(e => throw e, _.jobs)

  /** `df`'s rows behind an RDD: not a local relation, so a gate over
    * it runs a job. */
  private def distributed(df: DataFrame) =
    spark.createDataFrame(df.rdd, df.schema)

  test("connectedComponents: 0 Spark jobs on a local frame, at most 1 otherwise") {
    val local = plantedPairs
    assert(jobs(Dedup.connectedComponents(local, "id_a", "id_b"))() == 0)
    assert(jobs(Dedup.connectedComponents(distributed(local), "id_a", "id_b"))() <= 1)
    // and the 0-job driver path gives the forced loop's rows
    val got = Dedup.connectedComponents(local, "id_a", "id_b").as[(Long, Long)].collect().sorted
    val want = forced(Gate.CcEdgeEnds)(Dedup.connectedComponents(local, "id_a", "id_b"))
      .as[(Long, Long)].collect().sorted
    assert(got.toSeq == want.toSeq)
  }

  /** The LSH-verify fixture: four docs, three near-dups of each other,
    * and candidate pairs among them plus one distinct pair. */
  private def verifyInputs = {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different content about large scale data systems"),
      (4L, "the quick brown fox jumps over the lazy dog this morning")
    ).toDF("doc_id", "text")
    (Seq((1L, 2L), (1L, 4L), (2L, 4L), (1L, 3L)).toDF("id_a", "id_b"),
      Dedup.shingleSets(docs, "doc_id", "text"))
  }

  test("jaccardForPairsAdaptive returns identical rows above and below its gate") {
    val (cands, sets) = verifyInputs
    // besides the fixture: a repeated pair, an id with no set row, a
    // null set (null text) and a null pair end
    val extra = Seq((1L, 2L), (1L, 99L), (2L, 5L)).toDF("id_a", "id_b")
      .union(Seq[(Option[Long], Option[Long])]((Some(1L), None)).toDF("id_a", "id_b"))
    val setsPlus = sets.union(Seq((5L, null: Seq[String])).toDF("doc_id", "shset"))
    for ((name, p, s) <- Seq(("fixture", cands, sets),
                             ("edge cases", cands.union(extra), setsPlus))) {
      def rows = Dedup.jaccardForPairsAdaptive(p, s, "doc_id", "shset")
        .as[(Long, Long, Option[Double])].collect().sorted.toSeq
      val driver = rows
      val shuffledPairs = forced(Gate.LshVerifyPairs)(rows)
      val shuffledSets = forced(Gate.LshVerifySets)(rows)
      val want = Dedup.jaccardForPairs(p, s, "doc_id", "shset")
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Option[Double])].collect().sorted.toSeq
      assert(driver == want && shuffledPairs == want && shuffledSets == want,
        s"$name: driver $driver, pairs forced $shuffledPairs, sets forced " +
          s"$shuffledSets, jaccardForPairs $want")
    }
  }

  test("below their gates, CC runs one job and the LSH verify two, its action included") {
    // CC: the LocalTier job over the pair ends, with no edge-list
    // shuffle; the union-find and its result cost no job
    assert(jobs(Dedup.connectedComponents(distributed(plantedPairs), "id_a", "id_b"))() == 1)
    // the verify: the pair gate's job and the set gate's job; the
    // Jaccards are a local relation, so collecting them is no job
    val (cands, sets) = verifyInputs
    val verify = jobs(Dedup.verifiedPairs(distributed(cands), distributed(sets),
      "doc_id", 0.5))(_.collect())
    assert(verify <= 2, s"the verify ran $verify jobs")
  }

  test("a second below-gate LSH verify over cached candidates compiles no classes") {
    // candidates come from a cached frame with a shuffle inside, as
    // every graft caller's do; each persist clones the session, and
    // unless the gate job runs in the caller's session's artifact scope
    // the cached stages get a new executor class loader, which Spark's
    // codegen cache is keyed on, so they recompile on every call
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val (_, sets) = verifyInputs
    def verify(pairs: Seq[(Long, Long)]): Unit = {
      val cands = pairs.toDF("id_a", "id_b").distinct().persist()
      try Dedup.jaccardForPairsAdaptive(cands, sets, "doc_id", "shset").collect()
      finally cands.unpersist()
    }
    verify(Seq((1L, 2L), (1L, 4L), (2L, 4L), (1L, 3L)))
    val before = compiles.getCount
    // same shape: 4 pairs, and neither join key is unique on either call
    verify(Seq((1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L)))
    assert(compiles.getCount - before == 0L)
  }
}
