package graft.tools

import org.apache.spark.sql.functions._

/** Plane-count / occupancy probe for the embedding-LSH dedup path:
  * for each requested plane count, report the candidate-pair count,
  * the hottest bucket's occupancy, and the wall time of the full
  * verify join — the measurement that sizes `autoPlanes`'
  * targetOccupancy against REAL (clustered, non-uniform) embedding
  * distributions, where expected occupancy n/2^planes understates
  * the hot-bucket cost.
  *
  * Usage: runMain graft.tools.LshProbe <sfDir> <planes>[,<planes>...]
  */
object LshProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, planesCsv) = args
    val spark = graft.core.Tables.localSession(32)

    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).cache()
    val n = emb.count()
    for (planes <- planesCsv.split(",").map(_.trim.toInt)) {
      val blocked = emb.select(col("vec_id"),
        posexplode(graft.plans.HyperplaneBuckets(col("embedding"), planes, 12))
          .as(Seq("tbl", "_bkt")))
      val occ = blocked.groupBy(col("tbl"), col("_bkt"))
        .agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("mx"),
          sum(col("c") * col("c")).as("pairs2x")).head()
      val t0 = System.nanoTime()
      val pairs = graft.operators.Similarity.lshNearDupPairs(
        emb, "vec_id", "embedding", planes, 12).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"""{"lsh_probe":{"n":$n,"planes":$planes,""" +
        f""""max_bucket":${occ.getLong(0)},"sum_occ2":${occ.getLong(1)},""" +
        f""""verified_pairs":$pairs,"sec":$dt%.1f}}""")
      graft.core.Caches.releaseAll()
    }
    spark.stop()
  }
}
