package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star extension):
  * brute-force cosine top-k as the exact baseline, IVF (coarse
  * centroid probe) and random-hyperplane LSH as the scale paths, and
  * greedy k-center selection (the reference's KCenterSampling
  * contract, `main.py:11,57–69`).
  *
  * Scale posture: queries broadcast (they are few); the corpus is
  * scanned once per search. IVF prunes the scan to `probes/nlist` of
  * the corpus; LSH prunes to matching buckets. The driver-side loop in
  * k-center is the MLlib pattern (one action per round, vectors never
  * collected except the single chosen center).
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double
    * via the codegen'd native expression [[graft.plans.ArrayCosineSim]]
    * (bit-identical to the HOF formulation and the DuckDB oracle, but
    * a tight generated loop instead of interpreted per-element
    * closures). */
  def cosine(a: Column, b: Column): Column =
    graft.plans.ArrayCosineSim(a, b)

  /** The higher-order-function formulation (kept as the readable
    * reference implementation; same IEEE result as [[cosine]]). */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Exact brute-force top-k: broadcast the query set, scan the corpus
    * once, rank per query. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qId: String, cId: String, embCol: String,
                     k: Int): DataFrame = {
    val scored = corpus.alias("c")
      .join(broadcast(queries.alias("q")))
      .withColumn("sim", round(cosine(col(s"q.$embCol"), col(s"c.$embCol")), 6))
      .select(col(s"q.$qId").as("query_id"), col(s"c.$cId").as("vec_id"),
        col("sim"))
      .where(col("query_id") =!= col("vec_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** SINGLE-probe top-k: same scoring as [[bruteForceTopK]], but the
    * selection is orderBy+limit — TakeOrdered, a bounded heap per
    * partition — instead of a per-query window. With one probe the
    * window form funnels EVERY scored corpus row into one window
    * partition (a single-task sort of the whole corpus: measured 6×
    * superlinear on the sf30 ladder); this form never materializes
    * more than k rows per partition. Ranks over the selected k-row
    * frame come from a k×k rank-by-count self-join (≤ k² comparisons
    * of a k-row frame — constant work), NOT a global window: the
    * engine-wide plan sweep forbids empty-partition windows
    * unconditionally, and an exception for "bounded" frames would rot
    * (PlanShapeSpec sweep). */
  def bruteForceTopKSingle(probe: DataFrame, corpus: DataFrame,
                           qId: String, cId: String, embCol: String,
                           k: Int): DataFrame = {
    val scored = corpus.alias("c")
      .join(broadcast(probe.alias("q")))
      .withColumn("sim", round(cosine(col(s"q.$embCol"), col(s"c.$embCol")), 6))
      .select(col(s"q.$qId").as("query_id"), col(s"c.$cId").as("vec_id"),
        col("sim"))
      .where(col("query_id") =!= col("vec_id"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
    Selection.rankSmallFrameDesc(scored, "sim", "vec_id", "rk")
  }

  /** IVF-style probe: coarse cells given by `cellCol` (precomputed
    * cluster labels or KMeans output); rank cells by centroid
    * similarity, brute-force only within the top `probes` cells.
    * Centroids are computed relationally (posexplode + grouped sum) —
    * no driver materialization.
    *
    * Determinism: the query·centroid score is assembled from EXACT
    * decimal sums (addition-order-free) and divided/rounded once at
    * the end, so the probed-cell choice is reproducible across
    * partitionings and engines — a float centroid average would make
    * the probe order depend on merge order. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, cId: String, embCol: String, cellCol: String,
              probes: Int, k: Int): DataFrame = {
    val centDim = centroidNumerators(corpus, embCol, cellCol)
    val probed = probedCells(queries, centDim, qId, embCol, cellCol, probes)
    rankWithinCells(queries, corpus, probed, qId, cId, embCol, cellCol, k)
  }

  /** Centroid NUMERATOR per (cell, dim): exact decimal sum of the
    * members' components; the /n happens once, in double, at the end.
    * Widths are the widest exact-product split: (14,10)·(23,10) →
    * (38,20), the 38-digit cap with no rounding on either engine.
    * Narrower casts ((12,10)/(18,10)) silently NULL on overflow in
    * non-ANSI Spark but ERROR in DuckDB — the same latent divergence
    * the Lloyd's/PCA accumulators were widened against. */
  private def centroidNumerators(corpus: DataFrame, embCol: String,
                                 cellCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    corpus
      .select(col(cellCol), posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy(col(cellCol), col("pos"))
      .agg(sum(col("v").cast("double").cast(DecimalType(23, 10)))
        .cast(DecimalType(23, 10)).as("cn"),
        count(lit(1)).as("n"))
  }

  /** Top-`probes` cells per query by query·centroid similarity —
    * assembled from the exact numerators (addition-order-free), one
    * join + grouped sum in the long format. */
  private def probedCells(queries: DataFrame, centDim: DataFrame,
                          qId: String, embCol: String, cellCol: String,
                          probes: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val qDim = queries.select(col(qId).as("query_id"),
      posexplode(col(embCol)).as(Seq("pos", "qv")))
    val cellScore = qDim.join(centDim, "pos")
      .groupBy(col("query_id"), col(cellCol))
      .agg(round(
        sum(col("qv").cast("double").cast(DecimalType(14, 10)) * col("cn"))
          .cast("double") / max(col("n")), 6).as("cell_sim"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("cell_sim").desc, col(cellCol))
    cellScore.withColumn("crk", row_number().over(wCell))
      .where(col("crk") <= probes)
      .select(col("query_id"), col(cellCol))
  }

  /** Exact cosine rank of each query against the members of ITS probed
    * cells only. */
  private def rankWithinCells(queries: DataFrame, corpus: DataFrame,
                              probed: DataFrame, qId: String, cId: String,
                              embCol: String, cellCol: String,
                              k: Int): DataFrame = {
    val scored = corpus.alias("c")
      .join(broadcast(probed.alias("p")),
        col(s"c.$cellCol") === col(s"p.$cellCol"))
      .join(broadcast(queries.alias("q")),
        col("p.query_id") === col(s"q.$qId"))
      .withColumn("sim", round(cosine(col(s"q.$embCol"), col(s"c.$embCol")), 6))
      .select(col("p.query_id").as("query_id"),
        col(s"c.$cId").as("vec_id"), col("sim"))
      .where(col("query_id") =!= col("vec_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** PERSISTED IVF index — the reference saves its trained FAISS index
    * to disk and reloads it per run (reference `faiss_utils`); this is
    * that lifecycle on the lake: build the index ONCE (one corpus
    * pass), serve every later query set from the artifact without
    * touching the raw corpus.
    *
    * Layout: `vectors` partitioned BY CELL (directory-per-cell, so a
    * probe's literal cell filter prunes at file listing — the plan
    * shows PartitionFilters, spec-asserted), and `centroids` as the
    * exact decimal numerator frame [[centroidNumerators]] produces —
    * storing NUMERATORS rather than divided floats keeps the probe's
    * cell choice bit-identical to the from-scratch path and lets the
    * index absorb future cell-level merges without re-rounding. */
  object IvfStore extends graft.core.Store("ivf") {
    def write(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
              cId: String, embCol: String, cellCol: String,
              tag: String): Unit = {
      val base = dir(tag)
      // cluster by cell before the partitioned write (guide §6: writer
      // file sizing): without it every input partition emits a file
      // into every cell directory (splits × cells small files, which
      // the absorb chain then re-lists and re-reads generation after
      // generation); clustered, a cell's rows land in one file
      corpus.select(col(cId), col(embCol), col(cellCol))
        .repartition(col(cellCol))
        .write.mode("overwrite").partitionBy(cellCol)
        .parquet(base.resolve("vectors").toString)
      centroidNumerators(corpus, embCol, cellCol)
        .write.mode("overwrite")
        .parquet(base.resolve("centroids").toString)
    }

    def centroids(spark: org.apache.spark.sql.SparkSession, tag: String): DataFrame =
      spark.read.parquet(dir(tag).resolve("centroids").toString)
    def vectors(spark: org.apache.spark.sql.SparkSession, tag: String): DataFrame =
      spark.read.parquet(dir(tag).resolve("vectors").toString)

    /** Absorb a delta of new vectors into the persisted index WITHOUT
      * re-reading the old corpus vectors' embeddings for the centroid
      * update — this is why [[centroidNumerators]] stores NUMERATORS:
      * centroid state merges by plain decimal addition
      * (cn += delta_cn, n += delta_n), exactly, with no re-rounding,
      * so the absorbed index is bit-identical to a from-scratch build
      * over corpus ∪ delta (spec-asserted). The vectors table is the
      * one full rewrite (same new-tag-then-vacuum discipline as
      * [[Dedup.SignatureStore.absorb]]); at scale a cell-partitioned
      * table appends the delta's cells in place instead.
      *
      * `delta` ids must be NEW (an ANN corpus is append-only;
      * re-ingest = delete + add). Writes generation `toTag`; the old
      * generation stays readable until this commits. */
    def absorb(spark: org.apache.spark.sql.SparkSession, fromTag: String,
               toTag: String, delta: DataFrame, cId: String,
               embCol: String, cellCol: String): Unit = {
      requireNewTag(fromTag, toTag)
      val base = dir(toTag)
      val cellType = centroids(spark, fromTag).schema(cellCol).dataType
      vectors(spark, fromTag)
        .withColumn(cellCol, col(cellCol).cast(cellType))
        .select(col(cId), col(embCol), col(cellCol))
        .unionByName(delta.select(col(cId), col(embCol), col(cellCol)))
        .repartition(col(cellCol))
        .write.mode("overwrite").partitionBy(cellCol)
        .parquet(base.resolve("vectors").toString)
      centroids(spark, fromTag)
        .unionByName(centroidNumerators(delta, embCol, cellCol))
        .groupBy(col(cellCol), col("pos"))
        .agg(sum(col("cn")).cast(
            org.apache.spark.sql.types.DecimalType(23, 10)).as("cn"),
          sum(col("n")).as("n"))
        .write.mode("overwrite")
        .parquet(base.resolve("centroids").toString)
    }
  }

  /** [[ivfTopK]] served from the PERSISTED index: identical output
    * (same exact-numerator cell ranking, same in-cell cosine rank),
    * but the corpus side is the on-disk partitioned `vectors` table
    * restricted to the union of probed cells with a LITERAL in-filter
    * — collected from the tiny (query, cell) probe frame — so the
    * scan prunes whole cell directories at planning time instead of
    * reading the corpus. The raw corpus is never touched. */
  def ivfTopKFromStore(spark: org.apache.spark.sql.SparkSession,
                       queries: DataFrame, tag: String,
                       qId: String, cId: String, embCol: String,
                       cellCol: String, probes: Int, k: Int): DataFrame = {
    val centDim = IvfStore.centroids(spark, tag)
    val probed = graft.core.Caches.track(
      probedCells(queries, centDim, qId, embCol, cellCol, probes))
    val cellType = centDim.schema(cellCol).dataType
    val cells = probed.select(col(cellCol)).distinct().collect().map(_.get(0))
    val corpus = IvfStore.vectors(spark, tag)
      .where(col(cellCol).isin(cells: _*))
      .withColumn(cellCol, col(cellCol).cast(cellType))
    rankWithinCells(queries, corpus, probed, qId, cId, embCol, cellCol, k)
  }

  /** Random-hyperplane LSH bucket id for one hash table: `planes`
    * sign bits of deterministic pseudo-random projections. Plane p of
    * table t uses global plane index g = t·planes + p; coefficients
    * come from an arithmetic formula so the oracle can reproduce them.
    */
  def hyperplaneBucket(emb: Column, planes: Int, table: Int): Column =
    (0 until planes).map { p =>
      val g = table * planes + p
      // plane g, dim j (1-based) coefficient: (j·(2g+3)) mod 17 − 8
      val proj = aggregate(
        zip_with(emb, sequence(lit(1), size(emb)), (x, j) =>
          x.cast("double") * (((j * (2 * g + 3)) % 17) - 8)),
        lit(0.0), (a, v) => a + v)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** ANN via multi-table hyperplane LSH: a candidate is any vector
    * sharing a bucket with the query in ANY of the `tables` hash
    * tables (union-of-tables is the standard recall lever — one wide
    * table has vanishing collision probability for moderate-cosine
    * neighbors); exact cosine re-rank over the candidate union.
    * Measured on the synthetic embeddings: 6×3 ⇒ ~0.74 recall@10
    * scanning ~0.6 of the corpus (near-uniform vectors are an
    * adversarial case for LSH). */
  /** The LSH candidate stage alone: distinct (query_id, vec_id) pairs
    * sharing any table bucket. Exposed so recall/scan-fraction can be
    * measured directly (the candidate count over the corpus size IS
    * the scan fraction the re-rank pays). All table buckets come from
    * ONE corpus pass (a per-table union would rescan + re-project the
    * corpus `tables` times), then posexplode to (table, bucket) join
    * keys. The per-row bucket computation is the native codegen'd
    * [[graft.plans.HyperplaneBuckets]] (the per-plane zip_with/
    * aggregate folds in [[hyperplaneBucket]] are interpreted and were
    * the hot path of the LSH search). */
  def lshCandidates(queries: DataFrame, corpus: DataFrame,
                    qId: String, cId: String, embCol: String,
                    planes: Int, tables: Int): DataFrame = {
    def allBuckets(df: DataFrame, id: String, as: String) =
      df.select(col(id).as(as),
          posexplode(graft.plans.HyperplaneBuckets(col(embCol), planes, tables))
            .as(Seq("tbl", "_bkt")))
    allBuckets(corpus, cId, "vec_id")
      .join(broadcast(allBuckets(queries, qId, "query_id")), Seq("tbl", "_bkt"))
      .select(col("query_id"), col("vec_id"))
      .where(col("query_id") =!= col("vec_id"))
      .distinct()
  }

  def lshTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, cId: String, embCol: String,
              planes: Int, k: Int, tables: Int = 6): DataFrame = {
    val cands = lshCandidates(queries, corpus, qId, cId, embCol, planes, tables)
    val scored = cands
      .join(queries.select(col(qId).as("query_id"),
        col(embCol).as("_qe")), "query_id")
      .join(corpus.select(col(cId).as("vec_id"),
        col(embCol).as("_ce")), "vec_id")
      .withColumn("sim", round(cosine(col("_qe"), col("_ce")), 6))
      .select(col("query_id"), col("vec_id"), col("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Embedding-space near-dup PAIRS via multi-table hyperplane-LSH
    * bucket blocking + exact-cosine verification — the scale sibling
    * of the brute-force all-pairs baseline (q_dedup_embed_cosine),
    * exactly as [[Dedup.nearDupPairs]]'s banded LSH is for text.
    *
    * Scale posture: candidates come from a per-(table, bucket)
    * self-join — pairs ≈ n²/2^planes per table instead of n²/2 — and
    * only candidates pay the exact cosine; the verification joins are
    * id-keyed lookups. With `planes` sized to the corpus (2^planes
    * buckets ≫ avg bucket occupancy) the blocked join stays linear-ish
    * while a genuine near-dup pair (cosine ≥ ~0.9, angle ≤ ~26°)
    * collides in at least one of `tables` tables with probability
    * 1 − (1 − (1−θ/π)^planes)^tables ≈ 0.98 at 8×12 — the recall spec
    * plants such pairs and measures both recall and the scan
    * fraction. Buckets are the deterministic arithmetic hyperplanes
    * ([[hyperplaneBucket]]), so DuckDB replays them digit-for-digit
    * for the oracle gate.
    *
    * Returns verified (id_a < id_b, sim) for ALL candidate pairs —
    * callers threshold or top-k as their dedup policy demands. */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
                      planes: Int, tables: Int): DataFrame = {
    val blocked = graft.core.Caches.track(
      corpus.select(col(idCol),
        posexplode(graft.plans.HyperplaneBuckets(col(embCol), planes, tables))
          .as(Seq("tbl", "_bkt"))))
    val cands = blocked.alias("x").join(blocked.alias("y"), Seq("tbl", "_bkt"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    cands
      .join(corpus.select(col(idCol).as("id_a"), col(embCol).as("_ea")), "id_a")
      .join(corpus.select(col(idCol).as("id_b"), col(embCol).as("_eb")), "id_b")
      .withColumn("sim", round(cosine(col("_ea"), col("_eb")), 6))
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Plane count for [[lshNearDupPairsAuto]]: the smallest count
    * holding expected bucket occupancy n/2^planes at or below
    * `targetOccupancy`, clamped to [minPlanes, maxPlanes]. Pure so
    * the selection rule itself is unit-testable. */
  def autoPlanes(n: Long, targetOccupancy: Int = 16,
                 minPlanes: Int = 8, maxPlanes: Int = 24): Int = {
    require(targetOccupancy >= 1 && minPlanes >= 1 && maxPlanes >= minPlanes,
      s"bad autoPlanes bounds: occ=$targetOccupancy min=$minPlanes max=$maxPlanes")
    // ceil(log2(n/occ)) in EXACT integer arithmetic — the smallest k
    // with 2^k · occ ≥ n. A float log ratio can land a hair above an
    // integer at exact-doubling boundaries (n = occ·2^k) and ceil to
    // k+1 on one engine but not the other; the integer rule is what
    // the SQL oracle twin replays verbatim.
    var needed = 0
    while (needed < maxPlanes &&
           (1L << needed) * targetOccupancy < n) needed += 1
    math.min(maxPlanes, math.max(minPlanes, needed))
  }

  /** Exact-duplicate collapse for embeddings — the composition step
    * production embedding-dedup runs FIRST, exactly like the text
    * pipeline's exact-collapse → near-dup
    * ([[Dedup.nearDupPairsAfterExact]]): group on the full vector
    * (bit-equal floats), keep the min id as representative. The sf10
    * probe is the motivation: duplicate vectors are unsplittable by
    * ANY hyperplane (a bucket holding k copies contributes k²/2
    * candidate pairs no matter how many planes are added — measured:
    * the verified-pair count plateaus at 17.5 M from 18 planes on at
    * 200 k vectors with 100× replication, LshProbe), while after the
    * collapse the LSH runs over distinct vectors only and duplicate
    * membership is answered by the group map, not pairwise work. */
  def exactCollapseEmbeddings(emb: DataFrame, idCol: String,
      embCol: String): DataFrame =
    emb.groupBy(col(embCol)).agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(embCol))

  /** [[lshNearDupPairs]] with the plane count sized to the corpus. A
    * FIXED plane count silently reverts to quadratic as the corpus
    * grows: the per-bucket self-join costs ~occupancy² per bucket and
    * occupancy n/2^planes grows linearly with n (measured on the 8
    * plane config: 5.3× at 10× data, then 32× at the next 3× once
    * occupancy passed ~200 — PROFILE_r09). Holding occupancy constant
    * by adding a plane per corpus doubling keeps the blocked join
    * ~O(n·occ·tables): the one count() action that prices the corpus
    * is free next to the join it sizes. Recall per table shrinks as
    * planes grow — at 100 TB, scale `tables` with `planes` to hold
    * the recall target (the standard LSH trade; recall is spec'd on
    * planted near-dups in SimilaritySpec). */
  def lshNearDupPairsAuto(corpus: DataFrame, idCol: String, embCol: String,
                          tables: Int, targetOccupancy: Int = 16,
                          minPlanes: Int = 8, maxPlanes: Int = 24): DataFrame =
    lshNearDupPairs(corpus, idCol, embCol,
      autoPlanes(corpus.count(), targetOccupancy, minPlanes, maxPlanes), tables)

  /** SemDeDup-style semantic dedup: bound the pairwise cosine search
    * by a k-means partition of embedding space, then within each
    * cluster drop every vector that has a smaller-id neighbor with
    * rounded cosine ≥ tau. Keeping the minimum id per near-duplicate
    * neighborhood is the deterministic relational form of
    * keep-one-representative-per-ε-group (published as SemDeDup,
    * arXiv:2303.09540): a dropped vector always has a kept witness
    * within tau, and the rule needs no iteration — one pair join, one
    * anti join.
    *
    * Scale posture: the quadratic is confined to within-cluster pairs
    * (Σ n_c² ≈ n²/k for balanced clusters), and production corpora
    * size k with the corpus exactly like [[autoPlanes]] sizes the LSH
    * plane count — k ∝ n holds per-cluster occupancy flat, so cost
    * tracks n·occupancy, not n². The cluster step is the exact
    * fixed-init Lloyd's ([[Clustering.lloydExactAssign]]) so the
    * whole operator stays DuckDB-replayable; swapping in MLlib KMeans
    * changes only the label column. The self-join shuffles both sides
    * once on the cluster key; the verify filter runs inside the join
    * (codegen'd [[graft.plans.ArrayCosineSim]]), and only (id, flag)
    * pairs leave it.
    *
    * Returns (idCol, cluster, kept) for every input row, kept ∈ {0,1}.
    */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
                    k: Int, iters: Int, tau: Double,
                    roundTo: Int = 6): DataFrame = {
    val labeled = Clustering.lloydExactAssign(df, idCol, embCol, k, iters)
      .select(col(idCol), col(embCol), col("cluster"))
    val a = labeled.select(col("cluster"), col(idCol).as("_id_a"),
      col(embCol).as("_emb_a"))
    val b = labeled.select(col("cluster"), col(idCol).as("_id_b"),
      col(embCol).as("_emb_b"))
    val dropped = a.join(b, Seq("cluster"))
      .where(col("_id_a") < col("_id_b") &&
        round(cosine(col("_emb_a"), col("_emb_b")), roundTo) >= tau)
      .select(col("_id_b").as(idCol)).distinct()
    expandKeptFlags(labeled, dropped, idCol)
  }

  /** [[semanticDedup]] with the within-cluster pair verify routed
    * through the unary [[graft.plans.ClusterPairsNative]] node
    * instead of the cluster-key self-join: the labeled frame is
    * exchanged ONCE (the self-join pays two Exchanges and two sorts
    * of the same corpus-shaped table) and each cluster's ordered
    * pairs stream out of one clustered-sorted pass. The cosine
    * predicate stays the identical codegen'd [[graft.plans
    * .ArrayCosineSim]] Filter above the node, so the result is
    * bit-identical to the composed query — same oracle, one fewer
    * corpus Exchange. */
  def semanticDedupNative(df: DataFrame, idCol: String, embCol: String,
                          k: Int, iters: Int, tau: Double,
                          roundTo: Int = 6): DataFrame = {
    val labeled = Clustering.lloydExactAssign(df, idCol, embCol, k, iters)
      .select(col(idCol), col(embCol), col("cluster"))
    expandKeptFlags(labeled, nativeDropped(labeled, idCol, embCol,
      tau, roundTo), idCol)
  }

  /** Within-cluster smaller-id-neighbor drop set via the native
    * cluster-pairs node; shared by [[semanticDedupNative]] and the
    * production [[semanticDedupScalable]]. */
  private def nativeDropped(labeled: DataFrame, idCol: String,
                            embCol: String, tau: Double,
                            roundTo: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{
      Expression, GreaterThanOrEqual, Literal, Round}
    // the cosine threshold is PUSHED INTO the node (evaluated on the
    // reused pair row before any payload materialization); its
    // interpreted eval is the same ArrayCosineSim/Round/>= chain the
    // codegen'd .where form runs, so the drop set is bit-identical —
    // which the shared oracle gates
    val pred = (a: Expression, b: Expression) =>
      GreaterThanOrEqual(
        Round(graft.plans.ArrayCosineSim(a, b), Literal(roundTo)),
        Literal(tau)): Expression
    graft.plans.ClusterPairsNative
      .clusterPairs(labeled, "cluster", idCol, embCol, Some(pred))
      .select(col("id_b").as(idCol)).distinct()
  }

  private def expandKeptFlags(labeled: DataFrame, dropped: DataFrame,
                              idCol: String): DataFrame =
    labeled.select(col(idCol), col("cluster"))
      .join(dropped.withColumn("_drop", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        when(col("_drop").isNull, lit(1)).otherwise(lit(0)).as("kept"))

  /** EXACT-COLLAPSE composition of [[semanticDedup]] — same output
    * contract (every id, its cluster, kept flag), computed over
    * representatives only. Three exact identities make it EQUAL to
    * the uncollapsed operator, not an approximation:
    *
    *  1. identical vectors get identical Lloyd's assignments, and
    *     [[Clustering.lloydExactAssignWeighted]] with multiplicity
    *     weights reproduces the FULL corpus's centroids
    *     digit-for-digit (decimal·m = m decimal additions);
    *  2. a non-representative member x always has its family's
    *     smaller-id rep in its own cluster at cosine 1 ≥ τ, so
    *     x is dropped unconditionally;
    *  3. a representative r is dropped iff some smaller-id REP in its
    *     cluster clears τ — any qualifying non-rep y < r implies
    *     y's rep r' < y < r with the same cosine (identical vector),
    *     so checking reps only loses nothing.
    *
    * Pairs are evaluated over reps² instead of corpus² — under K×
    * duplication that is a K² reduction of the only quadratic term
    * (the within-cluster verify), the same collapse lever as
    * `q_dedup_minhash_scalable` / `q_dedup_embed_scalable` /
    * `q_dedup_simhash_scalable`. Requires τ ≤ 1 (a cosine-of-equal
    * pair must clear it — identity 2). Precondition: no ZERO vectors
    * — identity 2 assumes cosine(x, x) = 1, but a zero vector's
    * self-cosine is NaN, so the plain operator KEEPS zero-vector
    * duplicates (NaN never clears τ) where this path would drop the
    * non-rep members. Centroid init reads the UNCOLLAPSED frame, so
    * duplicate vectors among ids [0, k) behave exactly as in
    * [[semanticDedup]] (identical init, identical empty-cluster
    * failure at iters ≥ 2). */
  def semanticDedupScalable(df: DataFrame, idCol: String, embCol: String,
                            k: Int, iters: Int, tau: Double,
                            roundTo: Int = 6): DataFrame = {
    require(tau <= 1.0, s"collapse identity needs tau <= 1, got $tau")
    val fam = df.groupBy(col(embCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("_mult"))
    val labeled = Clustering.lloydExactAssignWeighted(
        fam, idCol, embCol, "_mult", k, iters,
        initFrom = Some(df.select(col(idCol), col(embCol))))
      .select(col(idCol), col(embCol), col("cluster"))
    // PRODUCTION verify path: the composed cluster self-join. Measured
    // against the native cluster-pairs node (ScaleSmoke
    // cluster_{enum,verify}_* at 25 M pairs): whole-stage-codegen'd
    // join+filter enumerates AND verifies pairs 2-4x faster than the
    // node's per-pair virtual predicate eval, in BOTH the broadcast
    // and the forced-SMJ regime — so the node stays the gated
    // capability (q_dedup_semantic_native) and the plan the optimizer
    // owns stays the production path. Memory is equivalent (both
    // buffer one cluster's rows/values per task).
    val a = labeled.select(col("cluster"), col(idCol).as("_id_a"),
      col(embCol).as("_emb_a"))
    val b = labeled.select(col("cluster"), col(idCol).as("_id_b"),
      col(embCol).as("_emb_b"))
    val droppedReps = a.join(b, Seq("cluster"))
      .where(col("_id_a") < col("_id_b") &&
        round(cosine(col("_emb_a"), col("_emb_b")), roundTo) >= tau)
      .select(col("_id_b").as("_rep")).distinct()
    df.select(col(idCol), col(embCol))
      .join(labeled.select(col(embCol), col(idCol).as("_rep"),
        col("cluster")), Seq(embCol))
      .join(droppedReps.withColumn("_d", lit(1)), Seq("_rep"), "left")
      .select(col(idCol), col("cluster"),
        when(col(idCol) === col("_rep") && col("_d").isNull, lit(1))
          .otherwise(lit(0)).as("kept"))
  }

  /** Greedy k-center (farthest-point) selection — the reference's
    * KCenterSampling. One Spark action per round (the MLlib idiom):
    * track each point's distance to its nearest chosen center, pick
    * the farthest point, update. Only the single chosen vector ever
    * reaches the driver. */
  def kcenterGreedy(df: DataFrame, idCol: String, embCol: String,
                    k: Int, seedId: Long): Seq[Long] = {
    val spark = df.sparkSession
    // native codegen'd fold — bit-identical to the HOF formulation
    // `aggregate(zip_with(e, center, (x,y) -> (x-y)²), 0.0, +)`
    def sqdistTo(center: Array[Double]): Column =
      graft.plans.ArraySqDistToConst(col(embCol), center)
    def vecOf(id: Long): Array[Double] =
      df.where(col(idCol) === id).select(col(embCol)).head()
        .getSeq[Float](0).map(_.toDouble).toArray

    def checkpointReleasing(df: DataFrame, prevIds: Set[Int]): (DataFrame, Set[Int]) =
      checkpointReleasingIn(spark)(df, prevIds)

    var chosen = Vector(seedId)
    var (state, cpIds) = checkpointReleasing(
      df.select(col(idCol), col(embCol))
        .withColumn("_mind", sqdistTo(vecOf(seedId))), Set.empty)
    while (chosen.size < k) {
      // the argmax row carries the chosen VECTOR too — one action per
      // round instead of argmax + a separate id-keyed vecOf scan
      val nextRow = state.orderBy(col("_mind").desc, col(idCol))
        .select(col(idCol), col(embCol)).head()
      val next = nextRow.getLong(0)
      val nextVec = nextRow.getSeq[Float](1).map(_.toDouble).toArray
      chosen = chosen :+ next
      val (s2, ids2) = checkpointReleasing(
        state.withColumn("_mind", least(col("_mind"), sqdistTo(nextVec))),
        cpIds)
      state = s2; cpIds = ids2
    }
    chosen
  }

  /** localCheckpoint truncates a driver loop's per-round lineage, but
    * each call PINS a full state copy in executor storage; without
    * release the loop accumulates k copies (OOM territory for large
    * k × corpus). Track the RDD ids each checkpoint adds and
    * unpersist the previous round's AFTER the new one materializes
    * (localCheckpoint is eager), bounding storage at ~2 copies.
    * Shared by [[kcenterGreedy]] and [[mmrSelect]]. */
  private def checkpointReleasingIn(spark: org.apache.spark.sql.SparkSession)(
      df: DataFrame, prevIds: Set[Int]): (DataFrame, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = df.localCheckpoint() // eager: materialized on return
    val added = (sc.getPersistentRDDs.keySet -- before).toSet
    prevIds.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    (cp, added)
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * greedily pick k items maximizing
    * λ·sim(q,d) − (1−λ)·max_{s∈chosen} sim(d,s) — relevance traded
    * against redundancy, the diversity-aware retrieval / training-data
    * selection shape (a near-duplicate of an already-chosen document
    * scores low even when query-similar, so the budget spreads across
    * the corpus's modes instead of stacking one cluster). The first
    * pick is the plain argmax of sim(q,d) (no chosen set yet — the
    * empty-max convention never arises).
    *
    * Driver loop in the [[kcenterGreedy]] idiom: one Spark action per
    * round over an (id, simq, maxs) state frame — a corpus scan plus a
    * TakeOrdered(1), never a global sort materialized —
    * localCheckpoint-with-release bounding pinned state at ~2 copies;
    * only each round's single chosen vector reaches the driver
    * (k · dim doubles total).
    *
    * DETERMINISTIC: both similarity legs are the fixed-order
    * [[cosineHof]] fold rounded to 6 BEFORE the λ-blend, and each
    * round's argmax breaks ties on the smaller id, so the whole greedy
    * trajectory replays exactly in SQL as an unrolled CTE chain (the
    * `q_kcenter_select` pattern). Chosen rows leave the pool, so the
    * k picks are distinct by construction. Returns (rank, id, simq). */
  def mmrSelect(df: DataFrame, idCol: String, embCol: String,
                queryId: Long, k: Int, lambda: Double): Seq[(Int, Long, Double)] = {
    val queryVec = vecById(df, idCol, embCol, queryId)
    mmrGreedy(df.where(col(idCol) =!= queryId), idCol, embCol, queryVec,
      k, lambda)
  }

  /** [[mmrSelect]] over an explicit CANDIDATE POOL: the same greedy,
    * but every per-round scan touches the pool's C rows instead of
    * the corpus. With cands = the whole corpus this is EXACTLY
    * [[mmrSelect]] (spec-asserted) — the pool restriction commutes
    * with the greedy because each round's argmax and each `_maxs`
    * update only ever read pool rows. */
  def mmrSelectFromCandidates(df: DataFrame, cands: DataFrame,
                              idCol: String, embCol: String, queryId: Long,
                              k: Int, lambda: Double): Seq[(Int, Long, Double)] = {
    val queryVec = vecById(df, idCol, embCol, queryId)
    // cache the pool: the greedy issues k argmax actions plus k
    // chosen-vector lookups against it — without the cache each one
    // would re-derive the semi-join from the corpus
    val pool = graft.core.Caches.track(
      df.join(cands.select(col(idCol)), Seq(idCol), "left_semi")
        .where(col(idCol) =!= queryId))
    mmrGreedy(pool, idCol, embCol, queryVec, k, lambda)
  }

  /** The DEPLOYABLE MMR shape at 100 TB: nobody runs exact greedy MMR
    * over a full corpus — the standard retrieval recipe is
    * probe-then-diversify: an IVF probe retrieves the top-C
    * candidates (cell-pruned, exact cosine re-rank, ties on id — the
    * [[ivfTopK]] contract), and the SAME exact greedy runs over that
    * C-row pool. k driver actions over C rows replace k corpus scans;
    * the probe is the only corpus-sized read and it prunes to
    * ~probes/nlist. Fully deterministic end to end, so a SQL oracle
    * replays probe, pool, and trajectory exactly. */
  def mmrSelectScalable(df: DataFrame, idCol: String, embCol: String,
                        cellCol: String, queryId: Long, k: Int,
                        lambda: Double, probes: Int,
                        poolC: Int): Seq[(Int, Long, Double)] = {
    val qdf = df.where(col(idCol) === queryId)
    val pool = ivfTopK(qdf, df, idCol, idCol, embCol, cellCol, probes, poolC)
      .select(col("vec_id").as(idCol))
    mmrSelectFromCandidates(df, pool, idCol, embCol, queryId, k, lambda)
  }

  private def vecById(df: DataFrame, idCol: String, embCol: String,
                      id: Long): Array[Double] =
    df.where(col(idCol) === id).select(col(embCol)).head()
      .getSeq[Float](0).map(_.toDouble).toArray

  /** The shared greedy: one argmax action per round over the
    * (id, emb, _simq, _maxs) pool frame, checkpoint-with-release
    * bounding pinned state at ~2 copies. Chosen vectors are looked up
    * IN THE POOL (id-keyed pruned read — the pool is where they were
    * picked from), so no round touches anything wider than the pool. */
  private def mmrGreedy(poolDf: DataFrame, idCol: String, embCol: String,
                        queryVec: Array[Double], k: Int,
                        lambda: Double): Seq[(Int, Long, Double)] = {
    val spark = poolDf.sparkSession
    def cosTo(center: Array[Double]): Column =
      round(cosineHof(col(embCol), array(center.map(lit).toSeq: _*)), 6)

    val base = poolDf
      .select(col(idCol), col(embCol),
        cosTo(queryVec).as("_simq"))
    // each argmax row carries the chosen VECTOR too, so a round is ONE
    // action (TakeOrdered) instead of argmax + a separate id-keyed
    // vecOf scan of the pool — same values, half the driver jobs
    val firstRows = base.orderBy(col("_simq").desc, col(idCol))
      .select(col(idCol), col("_simq"), col(embCol)).head(1)
    if (firstRows.isEmpty) return Vector.empty
    val first = firstRows(0)
    val firstVec = first.getSeq[Float](2).map(_.toDouble).toArray
    var chosen = Vector((1, first.getLong(0), first.getDouble(1)))
    var (state, cpIds) = checkpointReleasingIn(spark)(
      base.where(col(idCol) =!= first.getLong(0))
        .withColumn("_maxs", cosTo(firstVec)), Set.empty[Int])
    try {
      // head(1) not head(): when k exceeds the candidate pool the state
      // frame drains empty — return the picks gathered rather than throw.
      var drained = false
      while (chosen.size < k && !drained) {
        val mmr = lit(lambda) * col("_simq") - lit(1.0 - lambda) * col("_maxs")
        val top = state.orderBy(mmr.desc, col(idCol))
          .select(col(idCol), col("_simq"), col(embCol)).head(1)
        if (top.isEmpty) drained = true
        else {
          val next = top(0)
          val nextVec = next.getSeq[Float](2).map(_.toDouble).toArray
          chosen = chosen :+ ((chosen.size + 1, next.getLong(0), next.getDouble(1)))
          val (s2, ids2) = checkpointReleasingIn(spark)(
            state.where(col(idCol) =!= next.getLong(0))
              .withColumn("_maxs",
                greatest(col("_maxs"), cosTo(nextVec))),
            cpIds)
          state = s2; cpIds = ids2
        }
      }
      chosen
    } finally {
      cpIds.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    }
  }

  /** Fixed-order squared distance between two array columns (HOF
    * fold — left-to-right, the order DuckDB's list_aggregate
    * replays). */
  private def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double"))
          * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** PRODUCT-QUANTIZATION top-k (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — the storage-scale
    * path for the embedding tier: at 100 TB the float32 vectors
    * dominate storage, and PQ re-codes each vector as `blocks` small
    * integers (here 2×2 bits ≈ 32× narrower than 16 float dims)
    * while queries stay full-precision (asymmetric distance).
    *
    * DETERMINISTIC end to end, so a SQL oracle replays it: the
    * per-sub-block codebooks come from the same fixed-init
    * exact-decimal Lloyd's as `q_kmeans_exact`
    * ([[Clustering.lloydExactWithCentroids]] on the sliced
    * sub-vectors — init = sub-vectors of ids 0..codes-1, `iters`
    * assignment rounds, ties → smallest code), the ADC candidate
    * stage computes Σ_m sqdist(query block m, centroid of the row's
    * code m) as fixed-order folds, and the top-`cands` candidates
    * per query are re-ranked by EXACT cosine over their true
    * vectors. Recall < 1 is inherent to PQ (the quantizer collapses
    * within-cell detail); the re-rank makes everything that
    * SURVIVES the candidate stage exactly ordered.
    *
    * Scale posture: codebook state is blocks×codes×(dim/blocks)
    * doubles on the driver (k·dim bounded, the Lloyd's idiom); the
    * corpus is scanned once to code (narrow map after the per-block
    * assignments), once per query set for ADC (broadcast queries);
    * candidates are cands-bounded before any exact work. The decoded
    * reconstruction never materializes corpus-wide — ADC reads the
    * code and the broadcast codebook.
    *
    * PLAINLY: `pqTopK` alone is LINEAR-per-query — this is FAISS's
    * IndexPQ (exhaustive ADC over every code), the storage tier, not
    * the serving tier. Production serving is [[ivfPqTopK]] /
    * [[IvfPqStore.topK]] (IVFADC): the coarse probe prunes ADC to
    * ~probes/nlist of the codes. This operator is registered
    * (`q_embed_pq_topk`) as the documented linear contrast the
    * composite is measured against. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, qId: String,
             cId: String, embCol: String, blocks: Int, codes: Int,
             iters: Int, cands: Int, k: Int): DataFrame = {
    val len = pqBlockLen(corpus, embCol, blocks)
    val (coded, cents) = pqCodeCorpus(corpus, cId, embCol, blocks, codes,
      iters, len)
    val scored = withPqAdc(coded.alias("c")
        .join(broadcast(queries.alias("q"))), cents, embCol, len)
      .select(col(s"q.$qId").as("query_id"), col(s"c.$cId").as("vec_id"),
        col(s"c.$embCol").as("_cemb"), col(s"q.$embCol").as("_qemb"),
        col("adc"))
      .where(col("query_id") =!= col("vec_id"))
    pqCandRerank(scored, cands, k)
  }

  /** SCALAR-QUANTIZATION top-k (FAISS `IndexScalarQuantizer`, the SQ8
    * storage tier — the OTHER lossy-storage shape next to PQ): each
    * dimension quantizes independently to 8 bits against per-dimension
    * [min, max) bounds learned from the corpus — code_j =
    * clamp(floor((v_j − min_j) / step_j), 0, 255), step_j =
    * (max_j − min_j)/256 — so a 64-dim float vector stores as 64
    * bytes, 4× narrower, with NO codebook training (the bounds are
    * the entire "model": 2·dim doubles of driver state vs PQ's
    * blocks×codes×len). ADC compares the full-precision query against
    * midpoint reconstructions (min_j + (code_j + 0.5)·step_j); the
    * top-`cands` survivors re-rank by exact cosine over true vectors.
    *
    * Like [[pqTopK]], the scan is LINEAR-per-query by design (FAISS's
    * flat SQ index); the composite serving shape would prune it with
    * the IVF probe exactly as [[ivfPqTopK]] does for PQ.
    *
    * DETERMINISTIC end to end: bounds are exact min/max of the cast
    * doubles; floor is exact; the ADC fold is the sequential
    * 1..dim left fold both engines replay; ties → smaller vec_id at
    * both the candidate and re-rank windows. */
  def sqTopK(queries: DataFrame, corpus: DataFrame, qId: String,
             cId: String, embCol: String, cands: Int, k: Int): DataFrame = {
    val (mins, steps) = sqBounds(corpus, embCol)
    val dim = mins.length
    val minA = array(mins.map(lit).toSeq: _*)
    val stepA = array(steps.map(lit).toSeq: _*)
    def codeAt(emb: Column, j: Column): Column = {
      val v = element_at(emb, j).cast("double")
      when(element_at(stepA, j) === 0.0, lit(0L))
        .otherwise(least(lit(255L), greatest(lit(0L),
          floor((v - element_at(minA, j)) / element_at(stepA, j)))))
    }
    // code the corpus ONCE (narrow map — this column IS the SQ8
    // storage format); ADC below reads codes + bounds, never the raw
    // corpus vector
    val coded = corpus.withColumn("_codes",
      transform(sequence(lit(1), lit(dim)), j => codeAt(col(embCol), j)))
    // d_j computed in an ordered transform, squared+summed in the
    // sequential fold DuckDB's list_aggregate replays
    def adcExpr(qe: Column, codes: Column): Column =
      aggregate(
        transform(sequence(lit(1), lit(dim)), j =>
          element_at(qe, j).cast("double") -
            (element_at(minA, j) +
              (element_at(codes, j).cast("double") + lit(0.5)) * element_at(stepA, j))),
        lit(0.0), (acc, d) => acc + d * d)
    val scored = coded.alias("c")
      .join(broadcast(queries.alias("q")))
      .withColumn("adc",
        round(adcExpr(col(s"q.$embCol"), col("c._codes")), 6))
      .select(col(s"q.$qId").as("query_id"), col(s"c.$cId").as("vec_id"),
        col(s"c.$embCol").as("_cemb"), col(s"q.$embCol").as("_qemb"),
        col("adc"))
      .where(col("query_id") =!= col("vec_id"))
    pqCandRerank(scored, cands, k)
  }

  /** Per-dimension (min, step=(max−min)/256) over the corpus — one
    * posexplode + grouped min/max pass; 2·dim doubles of driver
    * state. */
  private def sqBounds(corpus: DataFrame,
                       embCol: String): (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .orderBy(col("pos"))
      .collect()
    (rows.map(_.getDouble(1)),
      rows.map(r => (r.getDouble(2) - r.getDouble(1)) / 256.0))
  }

  private def pqBlockLen(corpus: DataFrame, embCol: String,
                         blocks: Int): Int = {
    val dim = corpus.select(max(size(col(embCol)))).head().getInt(0)
    require(dim % blocks == 0, s"blocks ($blocks) must divide dim ($dim)")
    dim / blocks
  }

  /** Per-block PQ codebooks + codes as `_code0.._code{blocks-1}`
    * columns. Codebooks train via the FUSED multi-block Lloyd's
    * ([[pqTrainCodebooks]]); codes are then pure codegen argmin
    * expressions over the trained books — the [[IvfPqStore.absorb]]
    * frozen-codebook coding shape. The previous formulation JOINED
    * each block's Lloyd's assignment frame back onto the corpus:
    * `blocks` corpus-sized shuffle joins (2·blocks Exchanges at
    * scale) whose values are identical to the argmin expression,
    * because the final Lloyd's assignment IS argmin-vs-final-
    * centroids (ties → smaller code — SimilaritySpec's frozen-
    * codebook replay pins exactly this rule). Coding is now a narrow
    * shuffle-free map. Codebook state stays blocks×codes×len doubles
    * on the driver. Shared by [[pqTopK]], [[ivfPqTopK]],
    * [[IvfPqStore]]. */
  private def pqCodeCorpus(corpus: DataFrame, cId: String, embCol: String,
                           blocks: Int, codes: Int, iters: Int, len: Int)
      : (DataFrame, IndexedSeq[Seq[(Int, Array[Double])]]) = {
    val base = graft.core.Caches.track(corpus)
    val cents = pqTrainCodebooks(base, cId, embCol, blocks, codes, iters, len)
    val coded = (0 until blocks).foldLeft(base) { (df, m) =>
      df.withColumn(s"_code$m", pqAssignCol(cents(m), embCol, m, len))
    }
    (coded, cents)
  }

  /** Frozen-codebook argmin code for sub-block `m` (ties → smaller
    * code — the Lloyd's assign rule, same expression
    * [[IvfPqStore.absorb]] codes deltas with). */
  private def pqAssignCol(book: Seq[(Int, Array[Double])], embCol: String,
                          m: Int, len: Int): Column = {
    val off = m * len
    val cands = book.map { case (cid, arr) =>
      struct(graft.plans.ArraySqDistToConst(
          expr(s"slice($embCol, ${off + 1}, $len)"), arr).as("dist"),
        lit(cid).as("cid"))
    }
    array_min(array(cands: _*)).getField("cid")
  }

  /** FUSED multi-block fixed-init Lloyd's: every sub-block's codebook
    * trains in the SAME driver loop — per iteration ONE pass computes
    * all blocks' assignments (narrow codegen argmins) and ONE grouped
    * aggregate over (block, cluster, pos) collects every codebook's
    * decimal numerators together, so driver actions drop from
    * blocks·iters (the per-block [[Clustering.lloydExactWithCentroids]]
    * chains this replaced) to iters. Digit-identical to the per-block
    * runs: the (block, cluster, pos) grouping keys partition the sums
    * exactly as the separate aggregates did and decimal addition is
    * exact, so each mean is the same number; init is the same
    * ids-[0,codes) rows, sliced per block. */
  private def pqTrainCodebooks(base: DataFrame, cId: String, embCol: String,
                               blocks: Int, codes: Int, iters: Int, len: Int)
      : IndexedSeq[Seq[(Int, Array[Double])]] = {
    import org.apache.spark.sql.types.DecimalType
    val initRows = base.where(col(cId) < codes)
      .select(col(cId).cast("int"), col(embCol)).collect()
      .map(r => (r.getInt(0), r.getSeq[Number](1).map(_.doubleValue).toArray))
      .sortBy(_._1)
    require(initRows.length == codes,
      s"fixed init needs every id in [0, $codes); found ids " +
        initRows.map(_._1).mkString("[", ",", "]"))
    var cents: IndexedSeq[Seq[(Int, Array[Double])]] =
      (0 until blocks).map(m => initRows.toSeq.map { case (cid, arr) =>
        (cid, java.util.Arrays.copyOfRange(arr, m * len, (m + 1) * len)) })
    for (_ <- 1 until iters) {
      val aArr = array((0 until blocks).map(m =>
        pqAssignCol(cents(m), embCol, m, len)): _*)
      val rows = base
        .select(aArr.as("_as"), posexplode(col(embCol)).as(Seq("pos", "v")))
        .select((col("pos") / lit(len)).cast("int").as("block"),
          col("pos").mod(lit(len)).as("bpos"), col("_as"), col("v"))
        .withColumn("cluster", element_at(col("_as"), col("block") + 1))
        .groupBy(col("block"), col("cluster"), col("bpos"))
        .agg((sum(col("v").cast("double").cast(DecimalType(28, 10)))
          .cast("double") / count(lit(1))).as("c"))
        .collect()
      cents = (0 until blocks).map { m =>
        val byCluster = rows.filter(_.getInt(0) == m)
          .groupBy(_.getInt(1)).map { case (cid, g) =>
            val arr = new Array[Double](len)
            g.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
            (cid, arr)
          }.toSeq.sortBy(_._1)
        require(byCluster.length == codes,
          s"cluster(s) emptied mid-iteration in block $m: " +
            s"${codes - byCluster.length} of $codes lost; fixed-init " +
            "Lloyd's needs every cluster non-empty")
        byCluster
      }
    }
    cents
  }

  /** ADC: reconstruct each block's centroid from the row's code (a
    * when-chain over the broadcast codebook literals) and fold the
    * squared distance against the query's sub-vector; queries are
    * expected under alias `q`. */
  /** ADC via BROADCAST CODEBOOK JOINS: one tiny (codes-row) broadcast
    * join per sub-block resolves `_code$m` to its reconstruction
    * array, then the fixed-order sqdist folds sum across blocks. The
    * previous CASE-WHEN-chain expression capped codebooks at toy
    * sizes — an 8-block, 32-code book inlines 256 array literals into
    * one codegen method and OOMs planning/codegen — while the join
    * formulation is linear in `blocks` and scales to FAISS's
    * 256-code books. Arithmetic is identical (same reconstruction
    * arrays, same sequential fold), so every PQ-family oracle is
    * unchanged. Expects the `q` alias for the query side, like the
    * expression it replaced. */
  private def withPqAdc(scored: DataFrame,
                        cents: IndexedSeq[Seq[(Int, Array[Double])]],
                        embCol: String, len: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    var out = scored
    cents.indices.foreach { m =>
      val cb = cents(m).map { case (cid, arr) => (cid, arr.toSeq) }
        .toDF(s"_cbc$m", s"_sub$m")
      out = out.join(broadcast(cb), col(s"_code$m") === col(s"_cbc$m"))
    }
    val adc = cents.indices.map { m =>
      sqDistHof(expr(s"slice(q.$embCol, ${m * len + 1}, $len)"),
        col(s"_sub$m"))
    }.reduce(_ + _)
    out.withColumn("adc", round(adc, 6))
  }

  /** ADC-candidate window + exact cosine re-rank of the survivors. */
  private def pqCandRerank(scored: DataFrame, cands: Int,
                           k: Int): DataFrame = {
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("vec_id"))
    val candFrame = scored.withColumn("crk", row_number().over(wAdc))
      .where(col("crk") <= cands)
    val wSim = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    candFrame
      .withColumn("sim", round(cosine(col("_qemb"), col("_cemb")), 6))
      .withColumn("rk", row_number().over(wSim))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("sim"))
  }

  /** IVF-PQ composite (Jégou et al. 2011 §V — the FAISS `IVFPQ` /
    * IVFADC serving architecture): the coarse IVF probe prunes the
    * search to `probes` cells, asymmetric PQ distance ranks ONLY the
    * probed cells' members, and the top-`cands` survivors re-rank by
    * exact cosine. This is the 100 TB ANN serving shape — the
    * full-precision corpus is never scanned: the probe reads
    * nlist·dim centroid state, the ADC stage reads `blocks` small
    * codes per vector for ~probes/nlist of the corpus, and only
    * `cands` true vectors per query are ever touched.
    *
    * Codebooks are trained on the RAW vectors (one global codebook
    * set), not the paper's per-cell residuals: residual coding needs
    * a float centroid division per member, which would make the code
    * assignment merge-order-sensitive and unreplayable by the SQL
    * oracle; the exact re-rank recovers the ordering fidelity
    * residuals buy. DETERMINISTIC end to end — decimal-exact cell
    * ranking ([[ivfTopK]]), fixed-init exact-decimal Lloyd's
    * codebooks ([[pqTopK]]), fixed-order ADC folds, ties → smaller
    * id — so one SQL oracle replays probe, coding, ADC, and re-rank. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, qId: String,
                cId: String, embCol: String, cellCol: String, probes: Int,
                blocks: Int, codes: Int, iters: Int, cands: Int,
                k: Int): DataFrame = {
    val len = pqBlockLen(corpus, embCol, blocks)
    val centDim = centroidNumerators(corpus, embCol, cellCol)
    val probed = probedCells(queries, centDim, qId, embCol, cellCol, probes)
    val (coded, cents) = pqCodeCorpus(corpus, cId, embCol, blocks, codes,
      iters, len)
    val scored = withPqAdc(coded.alias("c")
        .join(broadcast(probed.alias("p")),
          col(s"c.$cellCol") === col(s"p.$cellCol"))
        .join(broadcast(queries.alias("q")),
          col("p.query_id") === col(s"q.$qId")), cents, embCol, len)
      .select(col("p.query_id").as("query_id"), col(s"c.$cId").as("vec_id"),
        col(s"c.$embCol").as("_cemb"), col(s"q.$embCol").as("_qemb"),
        col("adc"))
      .where(col("query_id") =!= col("vec_id"))
    pqCandRerank(scored, cands, k)
  }

  /** HARD-NEGATIVE MINING for contrastive training (the DPR recipe,
    * Karpukhin et al. 2020 §4.2: the strongest negatives are the
    * retriever's own near-misses): for each query, the top-k corpus
    * vectors by cosine that fall BELOW the positive threshold τ —
    * similar enough to be confusable, dissimilar enough to not be a
    * duplicate/paraphrase of the query (those are positives, mined by
    * the dedup family operators). Served through the IVF probe, so
    * the scan is probes/nlist of the corpus: a near-miss is by
    * definition in the query's own neighborhood, which is exactly
    * what the probed cells cover — the pruning and the semantics
    * agree. Same determinism contract as [[ivfTopK]] (decimal-exact
    * probe, rounded sims, ties → smaller id), so one SQL twin
    * replays probe, band filter, and rank. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, qId: String,
                    cId: String, embCol: String, cellCol: String,
                    probes: Int, tau: Double, k: Int): DataFrame = {
    val centDim = centroidNumerators(corpus, embCol, cellCol)
    val probed = probedCells(queries, centDim, qId, embCol, cellCol, probes)
    val scored = corpus.alias("c")
      .join(broadcast(probed.alias("p")),
        col(s"c.$cellCol") === col(s"p.$cellCol"))
      .join(broadcast(queries.alias("q")),
        col("p.query_id") === col(s"q.$qId"))
      .withColumn("sim", round(cosine(col(s"q.$embCol"), col(s"c.$embCol")), 6))
      .select(col("p.query_id").as("query_id"),
        col(s"c.$cId").as("vec_id"), col("sim"))
      .where(col("query_id") =!= col("vec_id") && col("sim") < tau)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** PERSISTED IVF-PQ index — the full FAISS-artifact lifecycle for
    * the composite: train the coarse cells' centroid numerators AND
    * the PQ codebooks once, persist four frames, serve every later
    * query set from the artifact. Layout under one root:
    * `vectors` and `codes` partitioned BY CELL (a probe's literal
    * cell filter prunes whole directories at file listing),
    * `centroids` as exact decimal numerators (same merge-friendly
    * contract as [[IvfStore]]), `codebooks` as blocks×codes tiny
    * rows. Serving reads: centroid state for the probe, the CODES
    * table (blocks small ints/vector — the ~32× narrower scan that
    * is PQ's point) for the probed cells' ADC, and the true vectors
    * of only the `cands` survivors for the exact re-rank. The raw
    * corpus is never touched. Output is bit-identical to
    * [[ivfPqTopK]] over the same corpus, so one oracle gates both. */
  object IvfPqStore extends graft.core.Store("ivfpq") {
    def write(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
              cId: String, embCol: String, cellCol: String, blocks: Int,
              codes: Int, iters: Int, tag: String): Unit = {
      val base = dir(tag)
      val len = pqBlockLen(corpus, embCol, blocks)
      val (coded, cents) = pqCodeCorpus(corpus, cId, embCol, blocks, codes,
        iters, len)
      // cluster by cell before partitioned writes — see [[IvfStore.write]]
      corpus.select(col(cId), col(embCol), col(cellCol))
        .repartition(col(cellCol))
        .write.mode("overwrite").partitionBy(cellCol)
        .parquet(base.resolve("vectors").toString)
      val codeCols = (0 until blocks).map(m => col(s"_code$m"))
      coded.select((col(cId) +: codeCols :+ col(cellCol)): _*)
        .repartition(col(cellCol))
        .write.mode("overwrite").partitionBy(cellCol)
        .parquet(base.resolve("codes").toString)
      centroidNumerators(corpus, embCol, cellCol)
        .write.mode("overwrite")
        .parquet(base.resolve("centroids").toString)
      import spark.implicits._
      cents.zipWithIndex
        .flatMap { case (bs, m) => bs.map { case (cid, arr) =>
          (m, cid, arr.toSeq) } }
        .toDF("block", "cid", "c")
        .coalesce(1).write.mode("overwrite")
        .parquet(base.resolve("codebooks").toString)
    }

    /** The persisted per-block codebooks, as [[pqCodeCorpus]] shapes
      * them — blocks×codes rows of bounded driver state. */
    def codebooks(spark: org.apache.spark.sql.SparkSession,
                  tag: String): IndexedSeq[Seq[(Int, Array[Double])]] =
      spark.read.parquet(dir(tag).resolve("codebooks").toString)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toIndexedSeq.sortBy(_._1)
        .map { case (_, rows) =>
          rows.sortBy(_._2).map(r => (r._2, r._3)).toSeq }

    /** Absorb a delta of NEW vectors into the persisted composite
      * index with FROZEN codebooks — the FAISS `add` contract: an
      * index never retrains its quantizers on add (training drift
      * would silently re-code the existing corpus), so the delta is
      * coded by argmin against the generation's stored codebooks
      * (ties → smaller code, the Lloyd's assign rule), centroid
      * NUMERATORS merge by exact decimal addition (the [[IvfStore]]
      * exactness), and codes/vectors rewrite under the new tag (at
      * scale: cell-partitioned appends). The absorbed index is
      * bit-identical to coding corpus ∪ delta with the day-0
      * codebooks — which is what the day-2 oracle replays. */
    def absorb(spark: org.apache.spark.sql.SparkSession, fromTag: String,
               toTag: String, delta: DataFrame, cId: String,
               embCol: String, cellCol: String): Unit = {
      requireNewTag(fromTag, toTag)
      val base = dir(toTag)
      val from = dir(fromTag)
      val cents = codebooks(spark, fromTag)
      val blocks = cents.size
      val len = cents.head.head._2.length
      val cellType = spark.read.parquet(from.resolve("centroids").toString)
        .schema(cellCol).dataType
      var codedDelta = delta
      (0 until blocks).foreach { m =>
        val off = m * len
        val cands = cents(m).map { case (cid, arr) =>
          struct(graft.plans.ArraySqDistToConst(
              expr(s"slice($embCol, ${off + 1}, $len)"), arr).as("dist"),
            lit(cid).as("cid"))
        }
        codedDelta = codedDelta.withColumn(s"_code$m",
          array_min(array(cands: _*)).getField("cid"))
      }
      val codeCols = (0 until blocks).map(m => col(s"_code$m"))
      spark.read.parquet(from.resolve("vectors").toString)
        .withColumn(cellCol, col(cellCol).cast(cellType))
        .select(col(cId), col(embCol), col(cellCol))
        .unionByName(delta.select(col(cId), col(embCol), col(cellCol)))
        .repartition(col(cellCol))
        .write.mode("overwrite").partitionBy(cellCol)
        .parquet(base.resolve("vectors").toString)
      spark.read.parquet(from.resolve("codes").toString)
        .withColumn(cellCol, col(cellCol).cast(cellType))
        .select((col(cId) +: codeCols :+ col(cellCol)): _*)
        .unionByName(
          codedDelta.select((col(cId) +: codeCols :+ col(cellCol)): _*))
        .repartition(col(cellCol))
        .write.mode("overwrite").partitionBy(cellCol)
        .parquet(base.resolve("codes").toString)
      spark.read.parquet(from.resolve("centroids").toString)
        .unionByName(centroidNumerators(delta, embCol, cellCol))
        .groupBy(col(cellCol), col("pos"))
        .agg(sum(col("cn")).cast(
            org.apache.spark.sql.types.DecimalType(23, 10)).as("cn"),
          sum(col("n")).as("n"))
        .write.mode("overwrite")
        .parquet(base.resolve("centroids").toString)
      spark.read.parquet(from.resolve("codebooks").toString)
        .coalesce(1).write.mode("overwrite")
        .parquet(base.resolve("codebooks").toString)
    }

    /** Serve top-k from the artifact: probe → cell-pruned ADC over
      * codes → exact re-rank reading only the survivors' vectors. */
    def topK(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
             tag: String, qId: String, cId: String, embCol: String,
             cellCol: String, probes: Int, cands: Int, k: Int): DataFrame = {
      val base = dir(tag)
      val centDim = spark.read.parquet(base.resolve("centroids").toString)
      val cellType = centDim.schema(cellCol).dataType
      val probed = graft.core.Caches.track(
        probedCells(queries, centDim, qId, embCol, cellCol, probes))
      val cells = probed.select(col(cellCol)).distinct().collect().map(_.get(0))
      // codebooks: blocks×codes rows — bounded driver state, the same
      // k·dim budget the Lloyd's trainer holds
      val cents = codebooks(spark, tag)
      val len = cents.head.head._2.length
      val codesDf = spark.read.parquet(base.resolve("codes").toString)
        .where(col(cellCol).isin(cells: _*))
        .withColumn(cellCol, col(cellCol).cast(cellType))
      val candFrame = {
        val scored = withPqAdc(codesDf.alias("c")
            .join(broadcast(probed.alias("p")),
              col(s"c.$cellCol") === col(s"p.$cellCol"))
            .join(broadcast(queries.alias("q")),
              col("p.query_id") === col(s"q.$qId")), cents, embCol, len)
          .select(col("p.query_id").as("query_id"),
            col(s"c.$cId").as("vec_id"), col(s"q.$embCol").as("_qemb"),
            col("adc"))
          .where(col("query_id") =!= col("vec_id"))
        val wAdc = Window.partitionBy(col("query_id"))
          .orderBy(col("adc").asc, col("vec_id"))
        scored.withColumn("crk", row_number().over(wAdc))
          .where(col("crk") <= cands)
      }
      // exact re-rank: the only read of true vectors — the probed
      // cells' directories, joined against the tiny candidate frame
      val vecs = spark.read.parquet(base.resolve("vectors").toString)
        .where(col(cellCol).isin(cells: _*))
      val wSim = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      vecs.alias("v")
        .join(broadcast(candFrame.alias("cf")),
          col(s"v.$cId") === col("cf.vec_id"))
        .select(col("cf.query_id").as("query_id"),
          col("cf.vec_id").as("vec_id"),
          round(cosine(col("cf._qemb"), col(s"v.$embCol")), 6).as("sim"))
        .withColumn("rk", row_number().over(wSim))
        .where(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("vec_id"), col("sim"))
    }
  }
}
