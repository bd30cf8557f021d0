package graft

import org.scalatest.funsuite.AnyFunSuite

/** Local replica of the driver's DuckDB correctness gate for the
  * highest-churn queries, so a parity break surfaces at `sbt test`
  * time instead of at the driver gate.
  *
  * Default-ON whenever the host python3 can import duckdb (the
  * dev/driver hosts can; it is not a JVM dependency, so a bare
  * container without it just skips). `SPARK_GRAFT_ORACLE=0` is the
  * explicit opt-OUT; any other value forces the gate on.
  *
  * Safe to run inside `sbt test`: suites execute sequentially in the
  * forked test JVM (`Test / testForkedParallel` defaults to false and
  * build.sbt pins it), so `Verify.dump`'s per-query
  * `Caches.releaseAll` can never unpersist another in-flight suite's
  * tracked cache.
  */
class OracleParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // the queries most likely to drift: newest oracles + the dedup
  // family whose Spark and SQL sides share hand-mirrored hash math
  private val churn = Set(
    "q_dedup_minhash_lsh", "q_dedup_simhash", "q_dedup_minhash_scalable",
    "q_quantile_bucket", "q_json_roundtrip", "q_image_headers",
    "q_audio_headers",
    // r9-final additions: hand-mirrored hash/window/decimal math
    "q_dedup_embed_scalable", "q_cdc_apply", "q_rollup_incremental",
    "q_median_scalable", "q_export_manifest",
    // the persisted-store family: every store's persist, absorb and
    // probe through the shared generational lifecycle
    "q_dedup_incremental_store", "q_dedup_store_day2",
    "q_dedup_group_resolve", "q_stream_dedup_store", "q_embed_ivf_store",
    "q_embed_ivf_day2", "q_stream_ann_ingest", "q_embed_ivfpq_store",
    "q_embed_ivfpq_day2", "q_image_dedup_day2", "q_dup_span_day2",
    "q_dup_span_absorb",
    // connected components' consumers: below CC's measured gate the
    // driver union-find resolves their groups
    "q_curate_pipeline", "q_curate_sink", "q_curate_funnel",
    "q_curate_incremental", "q_stream_curate", "q_dedup_clusters",
    "q_split_leakage_safe",
    // every other query on the streaming scaffold (EventStreams.run)
    "q_stream_hourly", "q_stream_drift", "q_stream_kmv", "q_stream_scores",
    "q_sessionize", "q_sessionize_tws", "q_stream_session",
    "q_stream_enrich", "q_stream_sliding", "q_stream_dedup",
    "q_stream_recovery", "q_stream_join", "q_stream_rollup")

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR_VERIFY",
    "/root/testdata/sf0.01")

  private def oracleEnabled: Boolean = {
    import scala.sys.process._
    sys.env.get("SPARK_GRAFT_ORACLE").map(_.toLowerCase) match {
      case Some("0") | Some("false") => false // explicit opt-out
      case Some(_)                   => true  // explicit opt-in (legacy form)
      case None => // default: on iff the host can actually run the gate
        // (duckdb importable AND the sf fixture present — a host with
        // one but not the other gets the documented skip, not a fail)
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDir)) &&
          (try Process(Seq("python3", "-c", "import duckdb")).! == 0
           catch { case _: Exception => false })
    }
  }

  test("DuckDB oracle parity holds for the highest-churn queries") {
    assume(oracleEnabled,
      "python3+duckdb or test data unavailable (or SPARK_GRAFT_ORACLE=0): " +
        "skipping parity gate")
    TestSpark.withTempDir("graft_oracle_gate") { d =>
      val out = d.toString
      Verify.dump(spark, sfDir, out, Some(churn))
      import scala.sys.process._
      val log = new StringBuilder
      val code = Process(Seq("python3", "tools/check.py", out, sfDir))
        .!(ProcessLogger(l => log.append(l).append('\n'),
           l => log.append(l).append('\n')))
      assert(code == 0, s"oracle parity gate failed:\n$log")
      assert(log.toString.contains("ALL OK"), log.toString)
    }
  }
}
