package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
  * PageRank over the corpus' word co-occurrence graph. Nodes are the
  * vocabulary, edges are adjacent-token pairs (undirected, weight =
  * adjacency count in either order), and the stationary score ranks
  * corpus keywords.
  *
  * Scale posture: the expensive part is building the graph — one
  * bigram explode + two grouped counts, all shuffled on the word key
  * — and the iteration state is VOCAB-sized, not corpus-sized: each
  * round is one edges⋈ranks join + one grouped sum, the shape that
  * survives a million-word vocabulary (ranks never collect to the
  * driver). Lineage across rounds is truncated with localCheckpoint
  * (the k-center / connected-components idiom).
  *
  * Cross-engine exactness (the DuckDB oracle replays every round):
  * per-edge contributions round(r·w/W, 9) are summed as
  * DECIMAL(28,9) — exact, order-independent — and the rank update
  * round((1−d)/N + d·S, 9) pins each round's state to a canonical
  * decimal, the same recipe as [[QualityModel]]. Damping-derived
  * literals are interpolated from the SAME computed doubles on both
  * sides (1−d is NOT the decimal 0.15 in binary).
  */
object TextRank {

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Undirected weighted co-occurrence edges, both directions
    * materialized: (src, dst, w) with w = count of adjacencies in
    * either order; self-loops dropped. */
  def cooccurrenceEdges(docs: DataFrame, textCol: String): DataFrame = {
    val bg = docs.select(
        explode(graft.functions.TextFns.shingles(col(textCol), 2)).as("bg"))
      .select(split(col("bg"), " ").as("p"))
      .where(size(col("p")) === 2)
      .select(col("p").getItem(0).as("a"), col("p").getItem(1).as("b"))
      .where(col("a") =!= col("b"))
    val und = bg
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    und.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .union(und.select(col("v").as("src"), col("u").as("dst"), col("w")))
  }

  /** Weighted PageRank over the co-occurrence graph; returns
    * (word, rank) for every non-isolated vocabulary word. */
  def textRank(docs: DataFrame, textCol: String,
               damping: Double, iters: Int): DataFrame = {
    val raw  = cooccurrenceEdges(docs, textCol)
    val outw = raw.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    // the src-weight normalizer is ITERATION-INVARIANT: join it into
    // the edge relation once, so each round is one join + one grouped
    // sum instead of two joins (the per-edge arithmetic r·w/wout is
    // unchanged — same operands, same order — so the oracle replay,
    // which keeps its per-round join, still matches bit-for-bit)
    // pre-partition the (iteration-invariant) edge relation by dst:
    // the per-round grouped sum keys on dst, so the aggregate reuses
    // the cached partitioning; ranks and sums are vocab-sized
    // (≪ edges) and broadcast onto the cached sides instead of
    // shuffling edges every round — GATED on the MEASURED vocab count
    // (Gate.TextRankVocab): above the gate the rounds keep shuffled
    // joins over the dst-partitioned cached edges instead of failing
    // hard on a broadcast build
    val edges = raw.join(outw, "src")
      .select(col("src"), col("dst"), col("w"), col("wout"))
      .repartition(col("dst")).cache()
    val nodes = edges.select(col("src").as("word")).distinct().cache()
    try {
      val n = nodes.count()
      require(n > 0, "textRank: empty co-occurrence graph")
      val maybeBcast = graft.core.Gate.TextRankVocab.maybeBroadcast(n)
      val base = (1.0 - damping) / n
      var ranks = nodes.withColumn("r", lit(round9(1.0 / n)))
        .localCheckpoint()
      for (i <- 1 to iters) {
        val contrib = edges
          .join(maybeBcast(ranks.withColumnRenamed("word", "src")), "src")
          .select(col("dst").as("word"),
            round(col("r") * col("w") / col("wout"), 9).as("c"))
        val sums = contrib.groupBy(col("word"))
          .agg(sum(col("c").cast(DecimalType(28, 9))).as("s"))
        val next = nodes.join(maybeBcast(sums), Seq("word"), "left")
          .select(col("word"),
            round(lit(base) +
              lit(damping) * coalesce(col("s").cast("double"), lit(0.0)),
              9).as("r"))
        if (i == 1) graft.core.LoopPlans.dump("textrank_round", next)
        // truncate lineage every third round (plus the last): enough
        // to stop recompute blowup, a third of the materializations
        ranks = if (i % 3 == 0 || i == iters) next.localCheckpoint() else next
      }
      ranks
    } finally {
      edges.unpersist(false); nodes.unpersist(false)
    }
  }

  /** The DuckDB twin: replays graph build + every rank round through
    * chained MATERIALIZED CTEs (materialization keeps the weight
    * chain linear — DuckDB inlines CTEs by default). `src` is the
    * FROM-able table name of the documents. */
  def textRankSql(src: String, textCol: String,
                  damping: Double, iters: Int, topK: Int): String = {
    val base = s"((1.0 - $damping) / nn.n)"
    val head =
      s"""WITH toks AS (
         |  SELECT string_split_regex(trim($textCol), '\\s+') AS t FROM $src),
         |bg AS (
         |  SELECT unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
         |    ELSE list_transform(range(1, len(t)),
         |           i -> array_to_string(list_slice(t, i, i + 1), ' ')) END) AS b
         |  FROM toks),
         |pairs AS (
         |  SELECT string_split(b, ' ')[1] AS a, string_split(b, ' ')[2] AS bb
         |  FROM bg WHERE len(string_split(b, ' ')) = 2),
         |und AS (
         |  SELECT least(a, bb) AS u, greatest(a, bb) AS v, COUNT(*) AS w
         |  FROM pairs WHERE a <> bb GROUP BY 1, 2),
         |edges AS MATERIALIZED (
         |  SELECT u AS src, v AS dst, w FROM und
         |  UNION ALL SELECT v, u, w FROM und),
         |outw AS MATERIALIZED (SELECT src, SUM(w) AS W FROM edges GROUP BY 1),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS word FROM edges),
         |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS MATERIALIZED (
         |  SELECT word, round(1.0 / nn.n, 9) AS r FROM nodes CROSS JOIN nn)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.word,
         |    round($base + $damping * CAST(coalesce(s.s, 0) AS DOUBLE), 9) AS r
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst AS word,
         |      SUM(CAST(round(p.r * e.w / ow.W, 9) AS DECIMAL(28,9))) AS s
         |    FROM edges e
         |    JOIN r${i - 1} p ON p.word = e.src
         |    JOIN outw ow ON ow.src = e.src
         |    GROUP BY e.dst) s ON s.word = n.word)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$rounds
       |SELECT word, round(r, 6) AS rank FROM r$iters
       |ORDER BY rank DESC, word LIMIT $topK""".stripMargin
  }
}
