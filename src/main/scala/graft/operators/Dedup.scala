package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deduplication family for large-scale corpus curation (north-star
  * extension; not in the reference): exact, MinHash+LSH, SimHash, and
  * n-gram Jaccard.
  *
  * Scale posture:
  *  - exact dedup is a grouped min keyed on (hash, content) — one
  *    shuffle, hash-led so the partitioner and sort touch 8 bytes
  *    first and content only breaks hash ties;
  *  - MinHash signatures come from one codegen'd per-row kernel over
  *    each shingle set ([[setSignatures]]); LSH banding turns
  *    all-pairs O(n²) into a bucket join where only same-bucket
  *    candidates pair up;
  *  - shingle ids are seeded md5-h15 hashes ([[md5Wid]]) — a narrow
  *    per-row expression with NO vocabulary and NO global sort, and
  *    DuckDB replays it digit-for-digit ([[widSql]]), so the same ids
  *    serve the oracle gate and the 100 TB path;
  *  - candidate verification (true Jaccard) reads shingle SETS back
  *    only for candidate pairs — a vanishing fraction of n² — on the
  *    driver while they fit its gates.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per distinct CONTENT group.
    *
    * The xxhash64 leads the partition key purely as an accelerant (the
    * partitioner and the within-partition sort fast-path on 8 bytes;
    * content is only compared between hash-equal rows), but the
    * content columns are in the key too, so equality is on the text
    * itself — a 64-bit hash collision between distinct texts cannot
    * collapse them, and the semantics match an oracle `GROUP BY text`
    * exactly. Costs nothing over hash-only grouping: a window shuffles
    * the full row regardless, the hash only ever shortened the KEY. */
  def exactDedup(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val h = xxhash64(contentCols.map(col): _*)
    df.withColumn("_h", h)
      .withColumn("_keep", min(col(idCol))
        .over(Window.partitionBy(col("_h") +: contentCols.map(col): _*)))
      .where(col(idCol) === col("_keep"))
      .drop("_h", "_keep")
  }

  /** Duplicate-group summary: one row per content group with >1 member. */
  def dupGroups(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame =
    df.groupBy(contentCols.map(col): _*)
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper"))
      .where(col("n_dups") > 1)

  /** Cross-engine shingle ids: the seeded md5-h15 scheme (the
    * [[Scorers.ProxyBackend]] hash — first 15 hex digits of
    * md5("seed:" || shingle) folded into a 60-bit BIGINT), reduced
    * mod [[P]] so the downstream universal-hash / LCG arithmetic
    * stays inside BIGINT under both Spark's and DuckDB's overflow
    * rules. A narrow per-row codegen expression: no vocabulary, no
    * distinct, no global sort — this replaced a rank-based vocabulary
    * whose `row_number` over the distinct shingles was the engine's
    * last single-reducer stage. */
  val WidSeed: Long = 1042L
  def md5Wid(sh: Column, seed: Long = WidSeed): Column =
    pmod(conv(substring(md5(concat(lit(s"$seed:"), sh)), 1, 15), 16, 10)
      .cast("long"), lit(P))

  /** DuckDB twin of [[md5Wid]] for oracle SQL. */
  def widSql(expr: String, seed: Long = WidSeed): String =
    s"(${Scorers.ProxyBackend.h15Sql(seed, expr)} % $P)"

  /** UN-reduced 60-bit window id for the SPAN-census family: the same
    * seeded md5-h15 hash WITHOUT the mod-[[P]] reduction. The mod-P
    * exists only for the minhash universal-hash arithmetic (a·x+b
    * mod P must stay inside BIGINT); span censuses merely group/join
    * on the id, so reducing the keyspace to P ≈ 2³⁰ would raise
    * expected birthday collisions from n²/2⁶¹ to n²/2P — tens of
    * thousands at sf100's millions of distinct stride-1 windows,
    * silently inflating dup_tokens in a way the oracle (which
    * replays the identical ids) cannot detect. */
  def md5Wid60(sh: Column, seed: Long = WidSeed): Column =
    conv(substring(md5(concat(lit(s"$seed:"), sh)), 1, 15), 16, 10)
      .cast("long")

  /** DuckDB twin of [[md5Wid60]] for oracle SQL. */
  def widSql60(expr: String, seed: Long = WidSeed): String =
    Scorers.ProxyBackend.h15Sql(seed, expr)

  /** MinHash signature per document from shingle ids: k universal-hash
    * permutations h_i(x) = (a_i·x + b_i) mod P, one grouped min each.
    * One explode + one aggregation — no per-permutation pass. The
    * reference composition of [[setSignatures]], which the engine's
    * own near-dup paths use. */
  val P: Long = graft.plans.MinHash.P
  def hashCoeffs(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (graft.plans.MinHash.coeffA(i), graft.plans.MinHash.coeffB(i)))

  def minhashSignatures(docShingleIds: DataFrame, idCol: String,
                        widCol: String, k: Int): DataFrame = {
    val mins = hashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min((col(widCol) * a + b) % P).as(s"mh_$i")
    }
    docShingleIds.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** (idCol, mh_0 … mh_{k-1}) straight from (idCol, `setCol`) shingle
    * sets, one codegen'd call per row ([[graft.plans.MinHashSignature]]):
    * the same rows as [[minhashSignatures]] over `explode(setCol)` →
    * [[md5Wid]], with no explode and no per-id aggregate. `idCol` must
    * be a key of `sets`: the grouped min merged the sets of a repeated
    * id, this gives one signature per row. Rows whose set is null or
    * empty are dropped, as explode drops them. */
  def setSignatures(sets: DataFrame, idCol: String, setCol: String, k: Int): DataFrame =
    // two projections: the k element reads must not inline the kernel
    // k times (CollapseProject keeps a non-cheap alias read twice)
    sets.where(size(col(setCol)) > 0)
      .select(col(idCol), graft.plans.MinHashSignature(col(setCol), k, WidSeed).as("_sig"))
      .select(col(idCol) +: (0 until k).map(i => col("_sig")(i).as(s"mh_$i")): _*)

  /** LSH banding: split the k-wide signature into bands of r rows;
    * docs sharing any (band, band-signature) bucket become candidate
    * pairs. Returns distinct (id_a < id_b) pairs.
    *
    * One explode (not a bands-way union — a union evaluates the
    * signature subtree once PER BAND per join side); the banded frame
    * is cached because the self-join references it twice and
    * signatures are k longs per doc — negligible even at 100 TB of
    * source text.
    *
    * The self-join is quadratic PER BUCKET. Exact-collapse upstream
    * ([[nearDupPairsAfterExact]]) removes the dominant mega-bucket
    * source (identical copies), but a corpus of n DISTINCT near-copies
    * of one template still puts n reps in one bucket → C(n,2)
    * candidates. `maxBucketSize` > 0 is the backstop for that true
    * worst case: each (band, bsig) bucket keeps only its `maxBucketSize`
    * smallest ids (a bucket-partitioned window — no global sort), so
    * candidates are hard-bounded by buckets·bands·C(cap,2). Members
    * dropped from one oversized bucket can still pair in their other
    * bands; the recall loss is confined to pathological buckets, and a
    * near-dup crowd that large is curation signal in itself. Default
    * 0 = unlimited — the oracle-gated queries keep exact LSH
    * semantics; the cap is opt-in for adversarial corpora. */
  /** Banded view of a signature frame: (idCol, band, bsig) — one row
    * per doc per band. This is also the INCREMENTAL-dedup store layout
    * (persist bucketed by (band, bsig); see [[incrementalNearDupPairs]]). */
  def bandExplode(signatures: DataFrame, idCol: String,
                  bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}")): _*)
        .as("bsig"))
    }
    signatures
      .select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  def lshCandidatePairs(signatures: DataFrame, idCol: String,
                        bands: Int, rowsPerBand: Int,
                        maxBucketSize: Int = 0): DataFrame = {
    val banded = graft.core.Caches.track(capBuckets(
      bandExplode(signatures, idCol, bands, rowsPerBand), idCol, maxBucketSize))
    bucketPairs(banded, idCol).distinct()
  }

  /** [[lshCandidatePairs]] through the custom UNARY plan node
    * ([[graft.plans.LshBandJoinNative]]): identical candidate set, but
    * the banded table is shuffled ONCE on (band, bsig) and pairs
    * stream from a single sorted pass — the composed self-join
    * exchanges the same data twice and sort-merges bucket against
    * itself. Same cross-band `.distinct()`; same `maxBucketSize`
    * backstop semantics (the cap window runs before the pass). */
  def lshCandidatePairsNative(signatures: DataFrame, idCol: String,
                              bands: Int, rowsPerBand: Int,
                              maxBucketSize: Int = 0): DataFrame =
    graft.plans.LshBandJoinNative.bandPairs(
        capBuckets(bandExplode(signatures, idCol, bands, rowsPerBand),
          idCol, maxBucketSize), "band", "bsig", idCol)
      .distinct()

  /** The `maxBucketSize` backstop: each (band, bsig) bucket keeps its
    * `maxBucketSize` smallest ids; 0 keeps every member. */
  private def capBuckets(banded: DataFrame, idCol: String,
                         maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) banded
    else banded
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("band"), col("bsig")).orderBy(col(idCol))))
      .where(col("_rn") <= maxBucketSize)
      .drop("_rn")

  /** The banded self-join: (id_a < id_b) pairs sharing a (band, bsig)
    * bucket, repeated once per shared band. */
  private def bucketPairs(banded: DataFrame, idCol: String): DataFrame =
    banded.alias("x").join(banded.alias("y"), Seq("band", "bsig"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))

  /** True n-gram Jaccard for given pairs: join the distinct-shingle
    * sets back and compare. */
  def jaccardForPairs(pairs: DataFrame, shingleSets: DataFrame,
                      idCol: String, setCol: String): DataFrame =
    pairs
      .join(shingleSets.select(col(idCol).as("id_a"), col(setCol).as("_sa")), "id_a")
      .join(shingleSets.select(col(idCol).as("id_b"), col(setCol).as("_sb")), "id_b")
      .withColumn("jaccard",
        graft.plans.StringArrayJaccard(col("_sa"), col("_sb")))
      .drop("_sa", "_sb")

  /** [[jaccardForPairs]] with the verify on the driver while it fits:
    * candidate pairs out of banded LSH are tiny relative to the corpus
    * (bands only collide near-dups), and at that size each Spark job
    * costs more than the Jaccards it would compute.
    *  - While every partition holds at most its share of
    *    [[graft.core.Gate.LshVerifyPairs]], that gate's one job brings
    *    the pairs to the driver as packed longs. Every graft caller's
    *    pairs end in a `distinct`, a hash shuffle on the pair, so each
    *    partition holds about its share of the total and the share acts
    *    as the total's bound.
    *  - A second bounded job ([[graft.core.Gate.LshVerifySets]])
    *    collects the shingle sets of only the pairs' ids, through an
    *    id-set filter on `shingleSets` that reaches a parquet store's
    *    scan (row-group and bucket pruning).
    *  - The driver computes each Jaccard with
    *    [[graft.plans.ArrayExprUtil.jaccard]], the function the
    *    codegen'd [[graft.plans.StringArrayJaccard]] calls, so the
    *    values are bitwise equal. The rows come back as a local
    *    relation, which the optimizer folds any further filter or
    *    projection into.
    * Above either gate, the pairs take the shuffled joins of
    * [[jaccardForPairs]] (over a checkpoint that reuses the pair gate
    * job's shuffle output, or over the collected pairs), which spill
    * gracefully. Pairs must be exactly (id_a, id_b) longs; output is
    * (id_a, id_b, jaccard) — the same rows [[jaccardForPairs]] yields,
    * one per pair and matching set row (so `idCol` should be a key of
    * `shingleSets`; DedupSpec asserts equality on every branch). */
  def jaccardForPairsAdaptive(pairs: DataFrame, shingleSets: DataFrame,
                              idCol: String, setCol: String): DataFrame = {
    import pairs.sparkSession.implicits._
    def shuffled(p: DataFrame) =
      jaccardForPairs(p, shingleSets, idCol, setCol)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    // id_a, id_b, id_a, id_b, … longs (a pair with a null id joins nothing)
    graft.core.Gate.LshVerifyPairs.collectLongs(pairs, 2)(r =>
      if (r.anyNull) Iterator.empty else Iterator(r.getLong(0), r.getLong(1))) match {
      case None => shuffled(pairs.localCheckpoint())
      case Some(e) =>
        val local = Seq.tabulate(e.length / 2)(i => (e(2 * i), e(2 * i + 1)))
        setsOfIds(shingleSets, idCol, setCol, e) match {
          case None => shuffled(local.toDF("id_a", "id_b"))
          case Some(setsOf) =>
            local.flatMap { case (a, b) =>
              for (sa <- setsOf.getOrElse(a, Nil); sb <- setsOf.getOrElse(b, Nil))
                yield (a, b, Option.when(sa != null && sb != null)(
                  graft.plans.ArrayExprUtil.jaccard(sa, sb)))
            }.toDF("id_a", "id_b", "jaccard")
        }
    }
  }

  /** The `setCol` rows of `ids` in `shingleSets` by id (a null set
    * stays null), collected by the [[graft.core.Gate.LshVerifySets]]
    * gate's one job, or `None` above it. */
  private def setsOfIds(shingleSets: DataFrame, idCol: String, setCol: String,
                        ids: Array[Long]): Option[Map[Long, Seq[ArrayData]]] =
    if (ids.isEmpty) Some(Map.empty)
    else {
      // InSet, not `isin`: under 11 values `isin` stays an In of
      // literals, whose generated code changes with every id set
      val ofIds = GraftShims.column(InSet(
        GraftShims.expression(col(idCol).cast("long")), ids.iterator.map(Long.box).toSet))
      graft.core.Gate.LshVerifySets.collectRows(
          shingleSets.where(ofIds).select(col(idCol).cast("long"), col(setCol))) { r =>
        Iterator.single(r.getLong(0) -> (if (r.isNullAt(1)) null else r.getArray(1).copy()))
      }(s => math.max(1L, Option(s._2).fold(0)(_.numElements()).toLong))
        .map(_.toSeq.groupMap(_._1)(_._2))
    }

  /** The verify step every MinHash near-dup path ends in: candidate
    * (id_a, id_b) pairs whose true Jaccard over the `shset` sets
    * ([[jaccardForPairsAdaptive]]) is at least `threshold`, as (id_a,
    * id_b, jaccard) with the jaccard rounded to 6 places — the value
    * the oracle replays. */
  private[graft] def verifiedPairs(cands: DataFrame, sets: DataFrame,
                                   idCol: String, threshold: Double): DataFrame =
    jaccardForPairsAdaptive(cands, sets, idCol, "shset")
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** End-to-end scalable MinHash+LSH near-dup pairs (md5-h15 shingle
    * ids — no vocabulary): shingle → sign → band → candidate → verify
    * ≥ threshold. Oracle-reproducible end to end (DuckDB replays
    * [[md5Wid]] via [[widSql]]). `idCol` must be a key of `df`
    * ([[setSignatures]]). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 12, bands: Int = 4,
                   threshold: Double = 0.5, maxBucketSize: Int = 0): DataFrame = {
    // k/bands truncation would silently band over a PREFIX of the
    // signature — a different recall curve than the caller asked for
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    // sets feeds both candidate generation and pair verification;
    // cached so the shingling runs once (signatures + the verify)
    val sets = graft.core.Caches.track(df.select(col(idCol),
      TextFns.shinglesDistinct(col(textCol), n).as("shset")))
    val sigs = setSignatures(sets, idCol, "shset", k)
    // candidate generation through the native unary band-pairs node
    // (one exchange of the banded table instead of the self-join's
    // two) — pair-set-identical to [[lshCandidatePairs]], spec- and
    // oracle-asserted
    val cands = lshCandidatePairsNative(sigs, idCol, bands, k / bands, maxBucketSize)
    verifiedPairs(cands, sets, idCol, threshold)
  }

  /** Near-dup detection composed the way a 100 TB dedup actually
    * runs: collapse EXACT duplicates first (one cheap hash groupBy —
    * web-scale corpora are dominated by identical copies), then run
    * MinHash+LSH only on the distinct representatives. Without the
    * exact stage, a group of k identical documents contributes k²/2
    * candidate pairs to the verification join; with it, one
    * representative. Measured (ScaleSmoke, 20×-duplicated corpus):
    * ~12× less wall-clock for identical near-dup output over
    * representatives (candidate pairs drop from 1.05 M to the 1×
    * corpus's 241). Returns (id_a, id_b, jaccard) over representative
    * ids (smallest id per exact-content group). */
  def nearDupPairsAfterExact(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, k: Int = 12, bands: Int = 4,
                             threshold: Double = 0.5,
                             maxBucketSize: Int = 0): DataFrame = {
    val reps = exactDedup(df.select(col(idCol), col(textCol)), idCol, Seq(textCol))
    nearDupPairs(reps, idCol, textCol, n, k, bands, threshold, maxBucketSize)
  }

  /** Connected components over an undirected pair graph (id_a, id_b)
    * — the step that turns near-dup candidate PAIRS into dedup GROUPS
    * (pair A–B plus B–C → one keeper for {A,B,C}), which is what a
    * corpus-dedup run actually keys its keep/drop decision on.
    *
    * The one job of the [[graft.core.Gate.CcEdgeEnds]] gate over the
    * pairs' ends picks a path (no job at all when `pairs` is a local
    * relation, as the driver-side LSH verify returns):
    *  - while every partition holds at most its share of the gate's
    *    pair ends (the common case, as only near-dup members appear):
    *    that job has collected them, and one union-find pass over the
    *    sorted node ids resolves them on the driver. Union-find needs
    *    neither one direction per edge nor distinct edges. Rounds = 0.
    *  - above the gate: shuffled smallest-id label propagation
    *    ([[propagateLabels]]) over a distinct two-direction edge list
    *    built from a checkpoint of the same ends (reusing the gate
    *    job's shuffles), never holding the graph on one machine.
    *
    * Returns (id, comp): one row per node that appears in `pairs`,
    * comp = smallest id reachable (the group keeper). A pair with a
    * null end is not an edge. Both paths return the same rows
    * (DedupSpec). */
  def connectedComponents(pairs: DataFrame, idA: String, idB: String,
                          maxIter: Int = 50): DataFrame =
    connectedComponentsWithIters(pairs, idA, idB, maxIter)._1

  /** [[connectedComponents]] plus the label-propagation round count it
    * took to converge (0 when the driver path resolved it). */
  def connectedComponentsWithIters(pairs: DataFrame, idA: String, idB: String,
                                   maxIter: Int = 50): (DataFrame, Int) = {
    val ends = pairEnds(pairs, idA, idB)
    // a, b, a, b, … longs (a pair with a null end is not an edge)
    graft.core.Gate.CcEdgeEnds.collectLongs(ends, 1) { r =>
      if (r.anyNull) Iterator.empty else Iterator(r.getLong(0), r.getLong(1))
    } match {
      case Some(e) => (componentsOnDriver(pairs.sparkSession, e), 0)
      case None => propagateLabels(edgeList(ends.localCheckpoint()).localCheckpoint(), maxIter)
    }
  }

  /** (src, dst) longs of the pairs, as they come. */
  private def pairEnds(pairs: DataFrame, idA: String, idB: String): DataFrame = {
    // The smallest-id label algebra needs numeric ids; a string doc key
    // under cast("long") would become NULL silently and corrupt the
    // edge list. Fail at plan time instead (hash a string key to a
    // synthetic long id upstream if needed).
    Seq(idA, idB).foreach { c =>
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      val ok = pairs.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _                                             => false
      }
      require(ok,
        s"connectedComponents: id column '$c' must be an integral type, " +
          s"got ${pairs.schema(c).dataType.simpleString} — non-numeric ids would " +
          "silently become NULL under cast(long) and corrupt the edge list")
    }
    pairs.select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
  }

  /** Both directions of every (src, dst) end pair without a null,
    * distinct (robustness to duplicate and reversed input pairs; one
    * shuffle). */
  private def edgeList(ends: DataFrame): DataFrame = {
    val oneWay = ends.where(col("src").isNotNull && col("dst").isNotNull)
    oneWay.union(oneWay.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Union-find over packed (a, b) pair longs that fit the driver
    * ([[graft.core.Gate.CcEdgeEnds]] sizes them). Node ids
    * are sorted, so a node's index orders like its id; unions keep the
    * smaller root, so every root is its component's smallest id. */
  private def componentsOnDriver(spark: org.apache.spark.sql.SparkSession,
                                 ends: Array[Long]): DataFrame = {
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(n - 1) != sorted(i)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.range(0, n)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < ends.length) {
      val a = find(java.util.Arrays.binarySearch(ids, ends(e)))
      val b = find(java.util.Arrays.binarySearch(ids, ends(e + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      e += 2
    }
    // ship (id, comp) back as primitive slices of ≤ 1M nodes
    val slices = (0 until n by (1 << 20)).map { lo =>
      val is = ids.slice(lo, math.min(n, lo + (1 << 20)))
      (is, Array.tabulate(is.length)(j => ids(find(lo + j))))
    }
    import spark.implicits._
    spark.sparkContext.parallelize(slices, math.max(1, slices.size))
      .flatMap { case (is, cs) => is.indices.iterator.map(i => (is(i), cs(i))) }
      .toDF("id", "comp")
  }

  /** Iterative smallest-id label propagation over a checkpointed edge
    * list. Every node starts labeled with its own id; each round every
    * node takes the min of its label, its neighbors' labels, AND its
    * label's label (path halving — the comp pointers form a forest
    * that contracts geometrically, the pointer-jumping trick of
    * hash-min connected components); converged when a round changes
    * nothing. Pure joins + grouped min — no graph library, nothing
    * driver-side but each round's change count.
    *
    * Scale posture: with path halving rounds are bounded by
    * O(log diameter) — near-dup graphs are overwhelmingly tiny
    * cliques/stars, so 2–3 rounds dominate (ScaleSmoke: round count
    * flat at 20× corpus growth; even a planted 80-edge PATH — the
    * adversarial worst shape — converges in ~10). Each round is ONE
    * grouped min over a union of self/neighbor/path-halving label
    * messages (two shuffled label joins feed it); all frames are
    * localCheckpoint-ed so lineage (and the plan) stays constant-size
    * across rounds. */
  private def propagateLabels(edges: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // re-checkpoint the (iteration-invariant) edge list pre-partitioned
    // by the probe key, so rounds join labels onto edges WITHOUT
    // re-shuffling the edge list each round (the TextRank edge
    // treatment; localCheckpoint preserves the physical partitioning
    // in the LogicalRDD it plans over)
    val edgesJ = edges.repartition(col("dst")).localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // MESSAGE-UNION round (r14 verdict #3): one grouped min over
      //   self (id, comp)                        — carries the old label
      //   nbr  (src, comp(dst))   via edges ⋈ labels on dst
      //   hop  (id, comp(comp))   via labels ⋈ labels on comp  [path halving]
      // replaces the nbr-min aggregate PLUS two label-table joins of
      // the old shape: min{comp, comp(comp), nbr comps} ≡
      // least(coalesce(comp_comp, comp), coalesce(nbr_comp, comp))
      // because comp(comp(v)) ≤ comp(v) (labels only ever decrease
      // from id under min) and every node has ≥1 edge and a labeled
      // comp, so no message source is ever empty for a node.
      val lk = labels.select(col("id").as("_lid"), col("comp").as("_lcomp"))
      val selfMsg = labels.select(col("id"), col("comp").as("m"),
        col("comp").as("_old"))
      val nbrMsg = edgesJ.join(lk, col("dst") === col("_lid"))
        .select(col("src").as("id"), col("_lcomp").as("m"),
          lit(null).cast("long").as("_old"))
      val hopMsg = labels.join(lk, col("comp") === col("_lid"))
        .select(col("id"), col("_lcomp").as("m"),
          lit(null).cast("long").as("_old"))
      // max(_old) is the round's incoming label (exactly one self
      // message per id), kept in the checkpoint for the change count
      val next = selfMsg.unionByName(nbrMsg).unionByName(hopMsg)
        .groupBy(col("id"))
        .agg(min(col("m")).as("comp"), max(col("_old")).as("_oldc"))
      if (iter == 0) graft.core.LoopPlans.dump("cc_round", next)
      val nextCk = next.localCheckpoint()
      changed = graft.core.LocalTier.rowCount(nextCk.where(col("comp") =!= col("_oldc")))
      labels = nextCk.select(col("id"), col("comp"))
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "a pair graph with a chain that long is pathological; raise maxIter")
    (labels, iter)
  }

  /** Near-dup CLUSTERS end to end: exact-collapse → MinHash+LSH pairs
    * ([[nearDupPairsAfterExact]]) → connected components → one row per
    * clustered representative with its keeper (the cluster's smallest
    * id) and the cluster size. Docs with no near-dup stay absent (they
    * are their own keeper by definition). */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 12, bands: Int = 4,
                      threshold: Double = 0.5,
                      maxBucketSize: Int = 0): DataFrame = {
    val pairs = nearDupPairsAfterExact(df, idCol, textCol, n, k, bands,
      threshold, maxBucketSize)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    val sizes = comps.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, "comp")
      .select(col("id").as(idCol), col("comp").as("keeper"), col("cluster_size"))
  }

  /** Distinct n-gram shingle sets: (idCol, shset) — the verification
    * half of the incremental-dedup store. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame =
    df.select(col(idCol), TextFns.shinglesDistinct(col(textCol), n).as("shset"))

  /** End-to-end banded LSH signatures from raw text: the frame a
    * resumable dedup PERSISTS per corpus (one row per doc per band).
    * Store it bucketed by (band, bsig) — the daily delta probe then
    * joins the corpus side shuffle-free. `idCol` must be a key of `df`
    * ([[setSignatures]]). */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, k: Int = 12, bands: Int = 4): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    bandExplode(setSignatures(shingleSets(df, idCol, textCol, n), idCol, "shset", k),
      idCol, bands, k / bands)
  }

  /** INCREMENTAL near-dup — the daily-ingest shape at 100 TB: dedup a
    * small DELTA of new documents against a corpus whose banded
    * signatures ([[bandedSignatures]]) and shingle sets
    * ([[shingleSets]]) were persisted by a previous run. Candidates =
    * (delta × corpus bucket probe) ∪ (delta-internal pairs), then the
    * usual Jaccard verification. Output equals the FULL run's pairs
    * restricted to pairs touching the delta (per-doc signatures are
    * independent, so splitting the corpus cannot change any pair) —
    * which is exactly what the oracle gate checks.
    *
    * Scale posture: corpus signatures are never recomputed and never
    * shuffled — the delta side is explicitly broadcast, so the probe
    * is one scan of the signature store (bucket/partition pruning on a
    * partitioned store shrinks even that); delta shingling, signing,
    * and the internal self-join are all delta-sized. A full re-dedup
    * at corpus size N costs O(N) shingling + an O(N) bucket self-join
    * EVERY day; this costs it once, then O(delta) per day
    * (ScaleSmoke: incremental wall-clock near-flat at 20× corpus
    * growth while the full run grows linearly). */
  def incrementalNearDupPairs(newBanded: DataFrame, corpusBanded: DataFrame,
                              allSets: DataFrame, idCol: String,
                              threshold: Double = 0.5): DataFrame =
    deltaNearDupPairs(newBanded, allSets, idCol, threshold)(
      probeBanded(corpusBanded, _, idCol))

  /** In-memory corpus bucket probe: candidate (id_a, id_b) pairs
    * between a delta's banded signatures and the corpus', with the
    * delta side broadcast, so the corpus is scanned, never shuffled
    * (plan-asserted in DedupSpec). */
  def probeBanded(corpusBanded: DataFrame, newBanded: DataFrame,
                  idCol: String): DataFrame =
    broadcast(newBanded.alias("x"))
      .join(corpusBanded.alias("y"), Seq("band", "bsig"))
      .where(col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(least(col(s"x.$idCol"), col(s"y.$idCol")).as("id_a"),
        greatest(col(s"x.$idCol"), col(s"y.$idCol")).as("id_b"))

  /** The body both incremental paths share: candidates = the corpus
    * `probe` of the delta's banded frame ∪ the delta's own bucket
    * pairs, distinct, then [[verifiedPairs]]. Candidates are
    * delta-bounded (measured small), so the verify runs on the driver
    * and the corpus-sized sets frame is only filtered to the
    * candidates' ids, never shuffled by id. */
  private def deltaNearDupPairs(newBanded: DataFrame, allSets: DataFrame,
                                idCol: String, threshold: Double)
                               (probe: DataFrame => DataFrame): DataFrame = {
    val nb = graft.core.Caches.track(newBanded) // referenced twice
    verifiedPairs(probe(nb).union(bucketPairs(nb, idCol)).distinct(),
      allSets, idCol, threshold)
  }

  /** The WRITE half of the resumable-dedup lifecycle: absorb a
    * processed delta's frames into the persisted store. Per-doc frames
    * are independent, so the merge is a keyed upsert — delta rows
    * REPLACE any prior rows for the same id (re-ingest / repair of an
    * updated document), everything else unions through untouched.
    * Works for both persisted frames ([[bandedSignatures]] and
    * [[shingleSets]]) since both are keyed by `idCol`.
    *
    * Scale posture: the anti-join probe side is the delta's distinct
    * ids — broadcast, so absorbing a day's delta is ONE scan of the
    * store with no shuffle of it; rewrite the merged store bucketed by
    * (band, bsig) so the next day's probe stays shuffle-free. The
    * identity that keeps the lifecycle sound (spec-asserted, including
    * re-ingest): mergeSignatureStore(frames(corpus), frames(delta)) ==
    * frames(corpus ∪ delta) row-for-row. */
  def mergeSignatureStore(store: DataFrame, delta: DataFrame,
                          idCol: String): DataFrame =
    store.join(broadcast(delta.select(col(idCol)).distinct()),
        Seq(idCol), "left_anti")
      .unionByName(delta)

  /** The PERSISTED half of the resumable-dedup lifecycle: the banded
    * signatures and shingle sets written as real bucketed on-disk
    * tables, so the daily delta probe joins the corpus side with ZERO
    * Exchange on the store (the layout [[bandedSignatures]]'s scaladoc
    * promises, made concrete).
    *
    * Layout: `banded` bucketed by (band, bsig) — the probe's join key —
    * and `sets` bucketed by the id — the verification join's key. A
    * bucketed scan reports `HashPartitioning(keys, buckets)`, so a
    * sort-merge probe shuffles ONLY the delta side (delta-sized
    * exchange; the 100 TB store is read in place, and bucket pruning
    * can shrink even that read). The in-memory variant
    * ([[incrementalNearDupPairs]]) broadcasts a tiny delta instead;
    * this path is for deltas too big to broadcast — both leave the
    * store unshuffled.
    *
    * On the `sets` table's id-bucketing: the daily VERIFY join does
    * NOT exploit it — candidate pairs are tiny relative to the corpus
    * (bands only collide near-dups), so the two verification joins
    * broadcast the CANDS side and stream the sets union unshuffled
    * (plan-asserted in DedupSpec); a layout on the streamed side of a
    * broadcast join is irrelevant. The bucketing exists for the
    * OTHER consumers of a persisted shingle store: id-keyed
    * group-resolution reads (fetch the sets for one cluster's
    * members), id-range compaction, and any future big-cands regime
    * where the verify joins degrade to SMJ — then the bucketed scan
    * satisfies the join partitioning exchange-free, exactly like the
    * banded table does for the probe today. */
  object SignatureStore extends graft.core.Store("sig", "banded", "sets") {
    /** Write the corpus's two store frames as bucketed external
      * tables. One pass over the corpus; the banded frame is sorted
      * within buckets by the join key so the probe's store side needs
      * no sort either when Spark can exploit it. */
    def write(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
              idCol: String, textCol: String, tag: String,
              n: Int = 3, k: Int = 12, bands: Int = 4,
              buckets: Int = 8): Unit = {
      writeBucketed(spark, bandedSignatures(corpus, idCol, textCol, n, k, bands),
        tag, "banded", buckets, "band", "bsig")
      writeBucketed(spark, shingleSets(corpus, idCol, textCol, n),
        tag, "sets", buckets, idCol)
    }

    def banded(spark: org.apache.spark.sql.SparkSession, tag: String): DataFrame =
      spark.table(table(tag, "banded"))
    def sets(spark: org.apache.spark.sql.SparkSession, tag: String): DataFrame =
      spark.table(table(tag, "sets"))

    /** The RE-PERSIST step that closes the daily-cron loop: read the
      * persisted store under `fromTag`, absorb a processed delta via
      * [[mergeSignatureStore]] (keyed upsert — re-ingests replace),
      * and write the merged store back as bucketed tables under
      * `toTag` with the SAME layout the probe depends on. Day-2
      * probes then run against the re-persisted store with zero
      * store-side Exchange, identical to day 1 — persist → probe →
      * merge → re-persist → probe, indefinitely.
      *
      * Scale posture: the merge's anti-join probe side is the delta's
      * broadcast ids, so the store is read ONCE (no shuffle of it by
      * the merge itself); the bucketed rewrite repartitions on the
      * bucket keys — the one unavoidable full-store shuffle of the
      * day, amortized against every probe that follows. */
    def absorb(spark: org.apache.spark.sql.SparkSession, fromTag: String,
               toTag: String, delta: DataFrame, idCol: String,
               textCol: String, n: Int = 3, k: Int = 12, bands: Int = 4,
               buckets: Int = 8): Unit = {
      requireNewTag(fromTag, toTag)
      writeBucketed(spark, mergeSignatureStore(banded(spark, fromTag),
          bandedSignatures(delta, idCol, textCol, n, k, bands), idCol),
        toTag, "banded", buckets, "band", "bsig")
      writeBucketed(spark, mergeSignatureStore(sets(spark, fromTag),
          shingleSets(delta, idCol, textCol, n), idCol),
        toTag, "sets", buckets, idCol)
    }

    /** Per-bucket member counts of the persisted banded store — the
      * group-selection half of a group-resolution read. The banded
      * table is bucketed by exactly this grouping key, so the
      * aggregation plans with ZERO Exchange (plan-asserted in
      * DedupSpec): at 100 TB, "how big are my LSH buckets" is a
      * store-local scan, never a shuffle. */
    def bucketCounts(spark: org.apache.spark.sql.SparkSession,
                     tag: String): DataFrame =
      banded(spark, tag).groupBy(col("band"), col("bsig"))
        .agg(count(lit(1)).as("n"))

    /** Resolve ONE near-dup group's member sets off the persisted
      * store — the id-keyed read the `sets` table's id-bucketing
      * exists for. Given the group's member ids (driver-known, the
      * way a curation UI or repair job addresses a group), fetches
      * each member's shingle set via a BUCKET-PRUNED scan (ids hash
      * to a subset of the 8 buckets; `SelectedBucketsCount` < total,
      * plan-asserted) and reports its shingle count plus Jaccard to
      * the group representative (min id). No Exchange touches the
      * store: the only shuffle in the whole read is the final
      * group-sized ORDER BY. */
    def resolveGroup(spark: org.apache.spark.sql.SparkSession, tag: String,
                     idCol: String, members: Seq[Long]): DataFrame = {
      require(members.nonEmpty, "resolveGroup needs at least one member id")
      val rep = members.min
      val ss = sets(spark, tag)
      val repSet = ss.where(col(idCol) === rep)
        .select(col("shset").as("_rep"))
      ss.where(col(idCol).isin(members: _*))
        .crossJoin(broadcast(repSet))
        .select(col(idCol),
          size(col("shset")).cast("long").as("n_shingles"),
          round(graft.plans.StringArrayJaccard(col("shset"), col("_rep")), 6)
            .as("jaccard_rep"))
        .orderBy(col(idCol))
    }

    /** [[resolveGroup]] for the store's LARGEST LSH bucket (count
      * desc, then (band, bsig) — deterministic). Two bounded driver
      * actions select the group: the winning bucket key (one row) and
      * its member ids (≤ `maxGroup`, enforced — near-dup groups are
      * small by contract; a bucket bigger than that is a skew signal
      * to split, not resolve). */
    def resolveLargestGroup(spark: org.apache.spark.sql.SparkSession,
                            tag: String, idCol: String,
                            maxGroup: Int = 10000): DataFrame = {
      val top = bucketCounts(spark, tag)
        .orderBy(col("n").desc, col("band"), col("bsig"))
        .limit(1).collect()(0)
      val memberRows = banded(spark, tag)
        .where(col("band") === top.getAs[Int]("band") &&
          col("bsig") === top.getAs[String]("bsig"))
        .select(col(idCol)).distinct()
        .limit(maxGroup + 1).collect()
      require(memberRows.length <= maxGroup,
        s"group exceeds $maxGroup members — split the bucket, don't resolve it")
      resolveGroup(spark, tag, idCol, memberRows.map(_.getAs[Long](idCol)).toSeq)
    }
  }

  /** Store-side bucket probe: candidate (id_a, id_b) pairs between a
    * delta's banded signatures and the PERSISTED store. The `merge`
    * hint pins the sort-merge shape the bucketed layout exists for —
    * the store scan's HashPartitioning(band, bsig) satisfies the join
    * requirement directly, so the only Exchange in the probe is the
    * delta side (plan-asserted in DedupSpec). */
  def probeSignatureStore(storeBanded: DataFrame, newBanded: DataFrame,
                          idCol: String): DataFrame =
    storeBanded.alias("y")
      .join(newBanded.alias("x").hint("merge"), Seq("band", "bsig"))
      .where(col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(least(col(s"x.$idCol"), col(s"y.$idCol")).as("id_a"),
        greatest(col(s"x.$idCol"), col(s"y.$idCol")).as("id_b"))

  /** [[incrementalNearDupPairs]] against the PERSISTED store: same
    * output contract (full run's pairs restricted to delta-touching
    * pairs), but the corpus side is the on-disk bucketed table probed
    * shuffle-free via [[probeSignatureStore]] — the daily-ingest shape
    * when the delta itself is too large to broadcast. */
  def incrementalNearDupPairsFromStore(newBanded: DataFrame,
                                       storeBanded: DataFrame,
                                       allSets: DataFrame, idCol: String,
                                       threshold: Double = 0.5): DataFrame =
    deltaNearDupPairs(newBanded, allSets, idCol, threshold)(
      probeSignatureStore(storeBanded, _, idCol))

  /** CCNet/RefinedWeb-style BOILERPLATE STRIP at sub-document
    * granularity: split each document into consecutive `win`-token
    * windows, census each window's distinct-document frequency, drop
    * windows appearing in more than `maxDocs` documents (nav bars,
    * license headers, template prose), and rebuild each document from
    * its surviving windows in order. Returns one row per document:
    * (idCol, n_windows, n_kept, clean_text).
    *
    * Scale posture: windowing is a narrow per-doc map (~n_tokens/win
    * rows); the census is one map-side-combined grouped
    * count-distinct; the join back keys on window content (at 100 TB
    * key it by a 128-bit content hash — same plan, 16-byte shuffle
    * keys); the rebuild is a per-doc sort_array over that document's
    * own windows — no global sort, nothing all-pairs. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       win: Int, maxDocs: Long): DataFrame = {
    val wins = df
      .select(col(idCol), TextFns.tokens(col(textCol)).as("_t"))
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, CAST((size(_t) - 1) DIV $win AS INT)), " +
          s"i -> concat_ws(' ', slice(_t, i * $win + 1, $win)))"))
        .as(Seq("_idx", "_win")))
    val freq = wins.groupBy(col("_win"))
      .agg(countDistinct(col(idCol)).as("_nd"))
    wins.join(freq, Seq("_win"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("_nd") <= maxDocs, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("_nd") <= maxDocs,
            struct(col("_idx"), col("_win"))))),
          x => x("_win")), " ").as("clean_text"))
  }

  /** Duplicated-SPAN census — the exact-substring dedup statistic of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 §3.1 ExactSubstr): how many of
    * each document's token positions are covered by some length-`win`
    * token window that occurs MORE THAN ONCE in the corpus (in another
    * document or repeated within the same one). Unlike
    * [[stripBoilerplate]]'s disjoint stride-`win` windows, these are
    * stride-1 windows — the true substring-duplication semantic: a
    * copied span is detected at every alignment, not only when it
    * lands on a window boundary.
    *
    * Plan: (1) stride-1 windows per doc (narrow map, ~n_tokens rows);
    * (2) window ids via [[md5Wid60]] (seeded; no vocabulary, 8-byte
    * shuffle keys — the corpus never ships window TEXT through a
    * shuffle); (3) ONE map-side-combined census `count(*) per wid`;
    * (4) duplicated window starts join back (wid-keyed); (5) per-doc
    * interval union via two windows PARTITIONED BY doc (running max
    * of span ends → island ids → island extents), summing
    * max(s)−min(s)+win per island. Every per-doc stage is narrow or
    * doc-partitioned; the census and the start-join are the only
    * corpus-sized shuffles. Suffix arrays give the same statistic for
    * UNBOUNDED match length; the fixed-`win` census is the standard
    * distributed form (a span duplicated at length ≥ win is exactly a
    * span all of whose win-windows are duplicated).
    *
    * Hash-collision note: window ids are the UN-reduced 60-bit h15
    * ([[md5Wid60]] — no mod-P, which exists only for the minhash
    * universal-hash arithmetic), so two DIFFERENT windows share an id
    * with p ≈ n²/2⁶¹ — negligible even at sf100's millions of
    * distinct windows (a mod-P id would make that n²/2P, tens of
    * thousands of expected collisions, silently inflating
    * dup_tokens). The oracle replays the same ids so the gate stays
    * exact either way; the 60-bit id keeps the STATISTIC itself
    * faithful to ExactSubstr.
    *
    * Returns (id, n_tokens, dup_tokens, dup_frac) for EVERY input doc
    * (docs shorter than `win` report 0 coverage). */
  def dupSpanCensus(df: DataFrame, idCol: String, textCol: String,
                    win: Int, seed: Long): DataFrame = {
    require(win >= 2, s"dupSpanCensus window must be >= 2, got $win")
    val base = graft.core.Caches.track(
      df.select(col(idCol), TextFns.tokens(col(textCol)).as("_t"))
        .withColumn("n_tokens", size(col("_t")).cast("long")))
    val wins = base
      .where(col("n_tokens") >= win)
      .select(col(idCol), col("n_tokens"), posexplode(expr(
        s"transform(sequence(1, CAST(size(_t) - ${win - 1} AS INT)), " +
          s"i -> concat_ws(' ', slice(_t, i, $win)))"))
        .as(Seq("_i0", "_win")))
      // posexplode pos is 0-based; s = 1-based start position
      .select(col(idCol), (col("_i0") + 1).as("s"),
        md5Wid60(col("_win"), seed).as("_wid"))
    val census = wins.groupBy(col("_wid")).agg(count(lit(1)).as("_occ"))
    val dupStarts = wins.join(census.where(col("_occ") > 1L), Seq("_wid"))
      .select(col(idCol), col("s"))
    // interval union per doc: spans are [s, s+win-1]; a start opens a
    // new island iff it exceeds the running max end of all prior
    // spans (adjacent islands need no merge — coverage adds either way)
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val covered = dupStarts
      .withColumn("_new", when(
        col("s") > coalesce(max(col("s") + lit(win - 1)).over(wPrev), lit(-1L)),
        1L).otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(wRun))
      .groupBy(col(idCol), col("_isl"))
      .agg((max(col("s")) - min(col("s")) + lit(win.toLong)).as("_len"))
      .groupBy(col(idCol))
      .agg(sum(col("_len")).as("dup_tokens"))
    base.select(col(idCol), col("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_frac"))
  }

  /** Collapse-first [[dupSpanCensus]] — the 100 TB path, same answer
    * by construction: window occurrence counts are computed over
    * distinct-text FAMILIES weighted by family size (a window at
    * alignment s of a text replicated sz times occurs sz times
    * corpus-wide — exactly the straight census's count), coverage is
    * resolved once per family, and every member inherits its family's
    * statistics through a 16-byte md5(text) digest join — the corpus
    * never ships window text per COPY, only per distinct text. Under
    * K× duplication the window/census/island work shrinks by K; the
    * corpus-sized stages are one digest shuffle and the stats
    * join-back. The same weighting makes [[stripDupSpans]] collapse
    * the same way (clean_text is a function of the family text and
    * the global census) — this census variant is the gated
    * demonstration. */
  def dupSpanCensusScalable(df: DataFrame, idCol: String, textCol: String,
                            win: Int, seed: Long): DataFrame = {
    require(win >= 2, s"dupSpanCensusScalable window must be >= 2, got $win")
    val fams = graft.core.Caches.track(
      df.groupBy(col(textCol))
        .agg(count(lit(1)).as("_sz"))
        .select(md5(col(textCol).cast("binary")).as("_dg"),
          TextFns.tokens(col(textCol)).as("_t"), col("_sz"))
        .withColumn("n_tokens", size(col("_t")).cast("long")))
    val wins = fams
      .where(col("n_tokens") >= win)
      .select(col("_dg"), col("_sz"), posexplode(expr(
        s"transform(sequence(1, CAST(size(_t) - ${win - 1} AS INT)), " +
          s"i -> concat_ws(' ', slice(_t, i, $win)))"))
        .as(Seq("_i0", "_win")))
      .select(col("_dg"), col("_sz"), (col("_i0") + 1).as("s"),
        md5Wid60(col("_win"), seed).as("_wid"))
    // member-weighted census: Σ family sizes per window id — equal to
    // the straight corpus-wide count(*)
    val census = wins.groupBy(col("_wid")).agg(sum(col("_sz")).as("_occ"))
    val dupStarts = wins.join(census.where(col("_occ") > 1L), Seq("_wid"))
      .select(col("_dg"), col("s"))
    val wPrev = Window.partitionBy(col("_dg")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("_dg")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val covered = dupStarts
      .withColumn("_new", when(
        col("s") > coalesce(max(col("s") + lit(win - 1)).over(wPrev), lit(-1L)),
        1L).otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(wRun))
      .groupBy(col("_dg"), col("_isl"))
      .agg((max(col("s")) - min(col("s")) + lit(win.toLong)).as("_len"))
      .groupBy(col("_dg"))
      .agg(sum(col("_len")).as("dup_tokens"))
    val famStats = fams.select(col("_dg"), col("n_tokens"))
      .join(covered, Seq("_dg"), "left")
      .select(col("_dg"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_frac"))
    df.select(col(idCol), md5(col(textCol).cast("binary")).as("_dg"))
      .join(famStats, Seq("_dg"))
      .select(col(idCol), col("n_tokens"), col("dup_tokens"), col("dup_frac"))
  }

  /** Persisted duplicated-span census with DELTA-sized day-2 update —
    * the daily-ingest lifecycle of [[dupSpanCensusScalable]], the
    * same persist→probe shape as [[SignatureStore]]. Day 1 persists
    * three collapse-first frames: per-family stats (digest, sz,
    * n_tokens, dup_tokens), family windows (digest, s, wid), and the
    * member-weighted census (wid, occ). Day 2 absorbs a delta with
    * work bounded by the delta and the families it TOUCHES, exact by
    * monotonicity: in an append-only corpus occ only grows, so a
    * family's dup set (its wids with occ > 1) changes iff one of its
    * wids CROSSES the 1→≥2 threshold. The update therefore:
    * (1) computes Δocc from the delta alone (new-family windows +
    * stored windows of re-ingested families × their copy delta);
    * (2) finds crossing wids (occ ≤ 1, occ′ ≥ 2); (3) recomputes
    * coverage ONLY for families containing a crossing wid, plus new
    * families — everyone else reads their stored stats; (4) expands
    * to members through the md5-digest join. Gated EQUAL to the
    * from-scratch census over v0 ∪ delta (`q_dup_span_day2` runs the
    * IDENTICAL oracle as `q_dup_span_scalable`). */
  object SpanStore extends graft.core.Store("span", "fams", "wins", "census") {

    private def famFrames(df: DataFrame, idCol: String, textCol: String,
                          win: Int, seed: Long): (DataFrame, DataFrame) = {
      val fams = graft.core.Caches.track(
        df.groupBy(col(textCol))
          .agg(count(lit(1)).as("sz"))
          .select(md5(col(textCol).cast("binary")).as("dg"),
            TextFns.tokens(col(textCol)).as("_t"), col("sz"))
          .withColumn("n_tokens", size(col("_t")).cast("long")))
      val wins = fams
        .where(col("n_tokens") >= win)
        .select(col("dg"), posexplode(expr(
          s"transform(sequence(1, CAST(size(_t) - ${win - 1} AS INT)), " +
            s"i -> concat_ws(' ', slice(_t, i, $win)))"))
          .as(Seq("_i0", "_win")))
        .select(col("dg"), (col("_i0") + 1).as("s"),
          md5Wid60(col("_win"), seed).as("wid"))
      (fams.select(col("dg"), col("sz"), col("n_tokens")), wins)
    }

    /** Coverage stats (dg, n_tokens, dup_tokens) for `fams` given
      * their windows and the duplicated-wid set. */
    private def coverage(fams: DataFrame, wins: DataFrame,
                         dupWids: DataFrame, win: Int): DataFrame = {
      val dupStarts = wins.join(dupWids, Seq("wid"))
        .select(col("dg"), col("s"))
      val wPrev = Window.partitionBy(col("dg")).orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy(col("dg")).orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val covered = dupStarts
        .withColumn("_new", when(
          col("s") > coalesce(max(col("s") + lit(win - 1)).over(wPrev), lit(-1L)),
          1L).otherwise(0L))
        .withColumn("_isl", sum(col("_new")).over(wRun))
        .groupBy(col("dg"), col("_isl"))
        .agg((max(col("s")) - min(col("s")) + lit(win.toLong)).as("_len"))
        .groupBy(col("dg"))
        .agg(sum(col("_len")).as("dup_tokens"))
      fams.select(col("dg"), col("n_tokens"))
        .join(covered, Seq("dg"), "left")
        .select(col("dg"), col("n_tokens"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
    }

    def write(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
              idCol: String, textCol: String, win: Int, seed: Long,
              tag: String, buckets: Int = 8): Unit = {
      val (fams, wins) = famFrames(corpus, idCol, textCol, win, seed)
      val winsT = graft.core.Caches.track(wins)
      val census = winsT.join(fams.select(col("dg"), col("sz")), Seq("dg"))
        .groupBy(col("wid")).agg(sum(col("sz")).as("occ"))
      val stats = coverage(fams, winsT,
        census.where(col("occ") > 1L).select(col("wid")), win)
      persist(spark, fams.join(stats.select(col("dg"), col("dup_tokens")), Seq("dg")),
        winsT, census, tag, buckets)
    }

    private def persist(spark: org.apache.spark.sql.SparkSession,
                        fams: DataFrame, wins: DataFrame, census: DataFrame,
                        tag: String, buckets: Int): Unit = {
      writeBucketed(spark, fams, tag, "fams", buckets, "dg")
      writeBucketed(spark, wins, tag, "wins", buckets, "dg")
      writeBucketed(spark, census, tag, "census", buckets, "wid")
    }

    /** The shared delta-merge analysis behind [[day2Stats]] (read-only
      * probe) and [[absorb]] (generation-N+1 re-persist): merged
      * per-family stats (dg, sz, n_tokens, dup_tokens), merged
      * windows, and the merged census, all exact by occ-monotonicity
      * (append-only ⇒ a family's dup set changes iff one of its wids
      * crosses the 1→≥2 threshold). Work is bounded by the delta and
      * the families it touches, plus one read of each store frame. */
    private def deltaMerge(spark: org.apache.spark.sql.SparkSession,
                           delta: DataFrame, idCol: String, textCol: String,
                           win: Int, seed: Long, tag: String)
        : (DataFrame, DataFrame, DataFrame) = {
      val storeFams = spark.table(table(tag, "fams"))
      val storeWins = spark.table(table(tag, "wins"))
      val storeCensus = spark.table(table(tag, "census"))
      // delta families: copy-count per digest; split new vs re-ingested
      val (dFams0, dWins0) = famFrames(delta, idCol, textCol, win, seed)
      val dFams = graft.core.Caches.track(dFams0
        .join(storeFams.select(col("dg"), lit(1).as("_in_store")),
          Seq("dg"), "left"))
      val newFams = dFams.where(col("_in_store").isNull)
        .select(col("dg"), col("sz"), col("n_tokens"))
      val dWins = graft.core.Caches.track(dWins0)
      val newWins = dWins.join(newFams.select(col("dg")), Seq("dg"))
      // Δocc: new-family windows × their sz + stored windows of
      // re-ingested families × copy delta (both delta-bounded)
      val reSz = dFams.where(col("_in_store").isNotNull)
        .select(col("dg"), col("sz").as("_dsz"))
      // reSz / crossing / affectedDgs below are all DELTA-bounded (the
      // occ-monotonicity argument: a crossing wid has ≤1 store
      // occurrence, so affected families ≤ crossing wids + new fams);
      // without hints the planner SMJ'd them against the STORE-sized
      // wins/fams frames, re-shuffling the whole store by dg/wid per
      // probe — broadcast the small side so the store is only ever
      // scanned, never shuffled. GATED on the MEASURED delta (r15):
      // the invariant bounds the sides by the delta, not by a
      // constant — a bulk re-ingest delta would turn the hint into a
      // broadcast-build OOM where the unhinted plan merely degraded
      // to sort-merge. Both frames are cached, so the counts are the
      // cache materialization the probe pays anyway.
      val maybeBcast =
        graft.core.Gate.SpanDeltaRows.maybeBroadcast(dFams.count() + dWins.count())
      val dOcc = newWins.join(newFams.select(col("dg"), col("sz")), Seq("dg"))
        .select(col("wid"), col("sz").as("_c"))
        .unionByName(storeWins.join(maybeBcast(reSz), Seq("dg"))
          .select(col("wid"), col("_dsz").as("_c")))
        .groupBy(col("wid")).agg(sum(col("_c")).as("docc"))
      val censusNew = graft.core.Caches.track(
        storeCensus.join(dOcc, Seq("wid"), "full_outer")
          .select(col("wid"),
            (coalesce(col("occ"), lit(0L)) + coalesce(col("docc"), lit(0L)))
              .as("occ2"),
            coalesce(col("occ"), lit(0L)).as("occ0")))
      val crossing = censusNew
        .where(col("occ0") <= 1L && col("occ2") > 1L).select(col("wid"))
      // affected = families holding a crossing wid (store or new) + new
      val allWins = storeWins.unionByName(newWins)
      val affectedDgs = graft.core.Caches.track(
        allWins.join(maybeBcast(crossing), Seq("wid")).select(col("dg")).distinct()
          .unionByName(newFams.select(col("dg"))).distinct())
      val allFams = storeFams.select(col("dg"), col("n_tokens"))
        .unionByName(newFams.select(col("dg"), col("n_tokens")))
      val recomputed = coverage(
        allFams.join(maybeBcast(affectedDgs), Seq("dg")),
        allWins.join(maybeBcast(affectedDgs), Seq("dg")),
        censusNew.where(col("occ2") > 1L).select(col("wid")), win)
      val untouched = storeFams
        .join(maybeBcast(affectedDgs), Seq("dg"), "left_anti")
        .select(col("dg"), col("n_tokens"), col("dup_tokens"))
      val stats = recomputed.unionByName(untouched)
      // merged copy counts: store + delta (a re-ingest ADDS copies in
      // an append-only corpus; new families contribute theirs)
      val szMerged = storeFams.select(col("dg"), col("sz"))
        .join(dFams.select(col("dg"), col("sz").as("_dsz2")), Seq("dg"),
          "full_outer")
        .select(col("dg"),
          (coalesce(col("sz"), lit(0L)) + coalesce(col("_dsz2"), lit(0L)))
            .as("sz"))
      val famsMerged = szMerged.join(stats, Seq("dg"))
        .select(col("dg"), col("sz"), col("n_tokens"), col("dup_tokens"))
      val censusMerged = censusNew.where(col("occ2") > 0L)
        .select(col("wid"), col("occ2").as("occ"))
      (famsMerged, allWins, censusMerged)
    }

    /** Day-2 probe: per-member span stats over v0 ∪ delta, computed
      * from the persisted store plus delta-sized work. `members` must
      * be the FULL day-2 corpus (v0 ∪ delta rows); `delta` its new
      * rows. Read-only — the store is untouched; [[absorb]] is the
      * step that makes the merge durable. */
    def day2Stats(spark: org.apache.spark.sql.SparkSession,
                  members: DataFrame, delta: DataFrame,
                  idCol: String, textCol: String, win: Int, seed: Long,
                  tag: String): DataFrame = {
      val (famsMerged, _, _) =
        deltaMerge(spark, delta, idCol, textCol, win, seed, tag)
      members.select(col(idCol), md5(col(textCol).cast("binary")).as("dg"))
        .join(famsMerged.select(col("dg"), col("n_tokens"), col("dup_tokens")),
          Seq("dg"))
        .select(col(idCol), col("n_tokens"), col("dup_tokens"),
          round(col("dup_tokens").cast("double") / col("n_tokens"), 6)
            .as("dup_frac"))
    }

    /** The RE-PERSIST step that closes the daily-cron loop (the
      * [[SignatureStore.absorb]] pattern): run [[deltaMerge]] against
      * generation `fromTag` and write the merged fams/wins/census
      * frames as generation `toTag` with the SAME bucketed layout day
      * 1 wrote — so day 3's probe pays only ITS delta, instead of
      * re-deriving day 2's merge forever. Writing to a NEW tag keeps
      * the old generation readable until the rewrite commits; then
      * [[vacuum]] reclaims it.
      *
      * Scale posture: the merge work is delta-bounded (coverage
      * recomputes only for crossing-wid holders + new families); the
      * bucketed rewrite of the three frames is the day's one
      * full-store shuffle, amortized against every later probe. */
    def absorb(spark: org.apache.spark.sql.SparkSession, fromTag: String,
               toTag: String, delta: DataFrame, idCol: String,
               textCol: String, win: Int, seed: Long,
               buckets: Int = 8): Unit = {
      requireNewTag(fromTag, toTag)
      val (famsMerged, winsMerged, censusMerged) =
        deltaMerge(spark, delta, idCol, textCol, win, seed, fromTag)
      persist(spark, famsMerged, winsMerged, censusMerged, toTag, buckets)
    }

    /** Per-family span stats straight off a persisted generation —
      * the store IS the answer after an absorb (no delta work at
      * all); members inherit through the digest join. */
    def statsFromStore(spark: org.apache.spark.sql.SparkSession,
                       members: DataFrame, idCol: String, textCol: String,
                       tag: String): DataFrame =
      members.select(col(idCol), md5(col(textCol).cast("binary")).as("dg"))
        .join(spark.table(table(tag, "fams"))
          .select(col("dg"), col("n_tokens"), col("dup_tokens")), Seq("dg"))
        .select(col(idCol), col("n_tokens"), col("dup_tokens"),
          round(col("dup_tokens").cast("double") / col("n_tokens"), 6)
            .as("dup_frac"))
  }

  /** The TRANSFORM companion of [[dupSpanCensus]] — Lee et al.'s
    * ExactSubstr-cut (arXiv:2107.06499 §4.2): rebuild every document
    * with its duplicated spans REMOVED, keeping only token positions
    * no duplicated window covers. Same census and interval-union
    * plan; the additional work is expanding islands to covered
    * positions (Σ island lengths ≤ n_tokens rows per doc — bounded by
    * the doc itself), an anti-join of the doc's positions against
    * them, and an order-preserving per-doc rebuild (sort_array over
    * the doc's own kept tokens, as [[stripBoilerplate]]).
    *
    * Returns (id, n_tokens, n_kept, clean_text) for every input doc —
    * a fully-duplicated doc keeps 0 tokens and an empty clean_text. */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
                    win: Int, seed: Long): DataFrame = {
    require(win >= 2, s"stripDupSpans window must be >= 2, got $win")
    val base = graft.core.Caches.track(
      df.select(col(idCol), TextFns.tokens(col(textCol)).as("_t"))
        .withColumn("n_tokens", size(col("_t")).cast("long")))
    val wins = base
      .where(col("n_tokens") >= win)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(1, CAST(size(_t) - ${win - 1} AS INT)), " +
          s"i -> concat_ws(' ', slice(_t, i, $win)))"))
        .as(Seq("_i0", "_win")))
      .select(col(idCol), (col("_i0") + 1).as("s"),
        md5Wid60(col("_win"), seed).as("_wid"))
    val census = wins.groupBy(col("_wid")).agg(count(lit(1)).as("_occ"))
    val dupStarts = wins.join(census.where(col("_occ") > 1L), Seq("_wid"))
      .select(col(idCol), col("s"))
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // ISLAND ARRAYS instead of covered-position rows: the rebuild used
    // to explode every token position, anti-join it against the
    // exploded covered positions, and re-assemble per doc with
    // sort_array(collect_list(...)) — three token-level shuffles. A
    // document's islands are FEW (merged maximal intervals), so
    // collecting them into one array per doc (island-level shuffle)
    // and filtering the token array in place with an index-aware HOF
    // is the same result with per-row array work instead: kept tokens
    // are exactly those whose 1-based position lies in no island,
    // taken in array (= position) order, which is what the sorted
    // collect_list produced.
    val islands = dupStarts
      .withColumn("_new", when(
        col("s") > coalesce(max(col("s") + lit(win - 1)).over(wPrev), lit(-1L)),
        1L).otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(wRun))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("s")).as("_s0"),
        (max(col("s")) + lit(win.toLong - 1)).as("_e0"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("_s0"), col("_e0"))).as("_spans"))
    base.join(islands, Seq(idCol), "left")
      .withColumn("_kept",
        when(col("_spans").isNull, col("_t")).otherwise(
          filter(col("_t"), (_, i) => !exists(col("_spans"), r =>
            (i + 1).cast("long")
              .between(r.getField("_s0"), r.getField("_e0"))))))
      .select(col(idCol), col("n_tokens"),
        size(col("_kept")).cast("long").as("n_kept"),
        array_join(col("_kept"), " ").as("clean_text"))
  }

  /** SimHash fingerprint per document over shingle/token ids: each of
    * `bits` bit-positions votes ±1 per element; the sign vector packs
    * into one long. One explode + posexplode-free bit loop + one
    * grouped sum. */
  def simhashFingerprints(docShingleIds: DataFrame, idCol: String,
                          widCol: String, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 64, s"simhash bits must be 1..64, got $bits")
    // ≤31 bits: small LCG — keeps wid*a+b inside BIGINT under ANSI
    // overflow checks and is reproducible in DuckDB (which errors on
    // overflow rather than wrapping); the gated 16-bit queries replay
    // it. Wider fingerprints need spread beyond bit 30, which the LCG
    // cannot give without overflow — use xxhash64 there (full 64-bit
    // avalanche; no DuckDB twin, so wide runs are spec/rows-only).
    // Projected ONCE — the per-bit vote aggregates share `_h` instead
    // of re-evaluating the hash each.
    val hashed = docShingleIds.withColumn("_h",
      if (bits <= 31) (col(widCol) * 1103515245L + 12345L) % 2147483648L
      else xxhash64(col(widCol)))
    val bitVotes = (0 until bits).map { b =>
      sum(when(shiftright(col("_h"), b).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"v_$b")
    }
    val fp = (0 until bits).map { b =>
      when(col(s"v_$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    hashed.groupBy(col(idCol))
      .agg(bitVotes.head, bitVotes.tail: _*)
      .withColumn("simhash", fp)
      .select(col(idCol), col("simhash"))
  }

  /** Near-dup candidates by SimHash: pairs within `maxHamming` bits,
    * found with FULL recall via pigeonhole segment blocking. The
    * fingerprint splits into `segments` disjoint bit ranges; any pair
    * within Hamming ≤ maxHamming < segments differs in at most
    * `maxHamming` segments, so at least one segment matches exactly —
    * blocking on each segment (one explode + one bucket self-join, the
    * same shape as LSH banding) therefore surfaces EVERY qualifying
    * pair, unlike single-prefix blocking which silently drops pairs
    * whose differing bits land in the prefix. A pair can collide in
    * several segments → distinct. */
  def simhashPairs(fps: DataFrame, idCol: String, maxHamming: Int,
                   bits: Int = 16, segments: Int = 4): DataFrame = {
    require(segments > maxHamming && bits % segments == 0,
      s"pigeonhole needs segments > maxHamming and segments | bits; got $segments/$maxHamming/$bits")
    val segWidth = bits / segments
    val mask = (1L << segWidth) - 1
    val segStructs = (0 until segments).map { i =>
      struct(lit(i).as("seg"),
        shiftright(col("simhash"), i * segWidth).bitwiseAND(mask).as("segval"))
    }
    // fingerprints are one long per doc (×segments block rows); cache
    // before the self-join so the voting pipeline isn't recomputed per
    // side (tracked — drivers release between queries)
    val blocked = graft.core.Caches.track(fps
      .select(col(idCol), col("simhash"), explode(array(segStructs: _*)).as("sb"))
      .select(col(idCol), col("simhash"),
        col("sb.seg").as("seg"), col("sb.segval").as("segval")))
    blocked.alias("x").join(blocked.alias("y"), Seq("seg", "segval"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .withColumn("hamming",
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))))
      .where(col("hamming") <= maxHamming)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        col("hamming"))
      .distinct()
  }
}
