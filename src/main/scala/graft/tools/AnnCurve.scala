package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** ANN QUALITY CURVE at scale: recall@k of the IVF probe path versus
  * cells probed, measured against the exact brute-force ranking on a
  * real fixture (the sf100 embeddings — 2 M vectors — being the
  * 1000× point). This is the operating-curve evidence behind choosing
  * `probes`: the per-query scan cost is ~probes/nlist of the corpus
  * (cells are near-balanced; the exact per-cell census prints
  * alongside), and recall is monotone in probes because the probed
  * cell sets are NESTED as probes grows (top-N cells by the same
  * deterministic centroid score).
  *
  * Usage: runMain graft.tools.AnnCurve [embDir] [nQueries] [k] [mode]
  * Prints one JSON line: per-probe recall plus the cell census.
  * mode "ivfpq" adds the composite index's curve (same probes sweep,
  * ADC over 4x16-code PQ + exact re-rank at cands=60) — the serving
  * shape's quality at the same scan budget. */
object AnnCurve {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/sf100"
    val nQ = if (args.length > 1) args(1).toInt else 20
    val k = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus.toInt)

    val embs = graft.core.Tables.embeddings(spark, dir).cache()
    val n = embs.count()
    val queries = embs.where(col("vec_id") < nQ)
    val cells = embs.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .orderBy(col("label"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val nlist = cells.length

    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val brute = topSets(Similarity.bruteForceTopK(
      queries, embs, "vec_id", "vec_id", "embedding", k))
    val curve = (1 to nlist).map { probes =>
      val ivf = topSets(Similarity.ivfTopK(queries, embs,
        "vec_id", "vec_id", "embedding", "label", probes, k))
      val recall = brute.keysIterator.map { q =>
        (ivf.getOrElse(q, Set.empty) & brute(q)).size.toDouble / brute(q).size
      }.sum / brute.size
      (probes, recall)
    }
    val curveJson = curve.map { case (p, r) => f""""$p":$r%.4f""" }
      .mkString("{", ",", "}")
    val cellsJson = cells.map { case (l, c) => s""""$l":$c""" }
      .mkString("{", ",", "}")
    val pqJson = if (args.length > 3 && args(3) == "ivfpq") {
      val (blocks, codes, cands) =
        if (args.length > 6) (args(4).toInt, args(5).toInt, args(6).toInt)
        else (4, 16, 60)
      val pqCurve = Seq(1, 2, 3, 5, nlist).distinct.map { probes =>
        val ivfpq = topSets(Similarity.ivfPqTopK(queries, embs,
          "vec_id", "vec_id", "embedding", "label", probes = probes,
          blocks = blocks, codes = codes, iters = 2, cands = cands, k = k))
        // each sweep point retrains + caches its coded corpus; release
        // before the next or the sweep accumulates per-point caches
        graft.core.Caches.releaseAll()
        val recall = brute.keysIterator.map { q =>
          (ivfpq.getOrElse(q, Set.empty) & brute(q)).size.toDouble / brute(q).size
        }.sum / brute.size
        (probes, recall)
      }
      pqCurve.map { case (p, r) => f""""$p":$r%.4f""" }
        .mkString(""","ivfpq_recall_by_probes":{""", ",", "}")
    } else ""
    println(s"""{"metric":"ann_recall_curve","dir":"$dir","n":$n,""" +
      s""""n_queries":$nQ,"k":$k,"nlist":$nlist,""" +
      s""""recall_by_probes":$curveJson$pqJson,"cell_sizes":$cellsJson}""")
    spark.stop()
  }
}
