package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Store, Tables}
import graft.multimodal.Multimodal
import graft.operators.Clustering
import graft.streaming.EventStreams

/** ML, streaming, and multimodal queries: MLlib KMeans/PCA (reference
  * C1/C2), the computed-cluster EP1 pipeline, Structured Streaming
  * aggregation (oracle-comparable to its batch twin), stateful
  * sessionization, and multimodal feature extraction.
  */
object MlQueries extends QueryModule {

  private def embs(implicit s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** KMeans(10, seed 0) labels — deterministic under the pinned seed;
    * label values are MLlib's (sklearn parity is property-level, per
    * SURVEY.md §5). */
  private def qKmeans(implicit s: SparkSession, dir: String): DataFrame =
    Clustering.kmeansLabels(embs, "embedding", k = 10, seed = 0L)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .orderBy(col("cluster"))

  /** The reference's ACTUAL EP1 flow with computed clusters: KMeans →
    * per-cluster percentile band → stride sample. */
  private def qKmeansSelect(implicit s: SparkSession, dir: String): DataFrame = {
    val conf = round(graft.plans.PosWeightedSum(col("embedding")), 6)
    val scored = embs.select(col("vec_id"), col("embedding"), conf.as("conf"))
    Clustering.clusterAndSelect(scored, "vec_id", "embedding", "conf",
        k = 10, sampleNum = 5, seed = 0L)
      .select(col("cluster"), col("vec_id"), col("conf"))
      .orderBy(col("cluster"), col("vec_id"))
  }

  /** Oracle-EXACT KMeans sibling of q_kmeans: fixed-init Lloyd's
    * (k=4, 2 assignment rounds) as relational ops — init centroids =
    * embeddings of vec_id 0..3, squared distances via the fixed-order
    * codegen fold, centroid means via exact decimal sums. The DuckDB
    * oracle unrolls the identical rounds, so the label VALUES (not
    * just the contract) hash-match across engines. */
  private def qKmeansExact(implicit s: SparkSession, dir: String): DataFrame =
    Clustering.lloydExactAssign(embs, "vec_id", "embedding", k = 4, iters = 2)
      .select(col("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))

  /** The 2-round fixed-init Lloyd's CTE chain (ends at `a1` =
    * (vec_id, cluster)); shared by q_kmeans_exact and
    * q_cluster_select_exact. */
  private val lloydCtes = {
    def sq(a: String, b: String) =
      s"""list_aggregate(list_transform(list_zip($a, $b),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')""".stripMargin
    def argmin(d: String) =
      s"""SELECT vec_id, cid AS cluster FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dist, cid) AS rk FROM $d) WHERE rk = 1""".stripMargin
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       |  FROM e WHERE vec_id < 4),
       |d0 AS (
       |  SELECT e.vec_id, c0.cid, ${sq("e.embedding", "c0.c")} AS dist
       |  FROM e CROSS JOIN c0),
       |a0 AS (${argmin("d0")}),
       |c1 AS (
       |  SELECT cid, list(cd ORDER BY pos) AS c FROM (
       |    SELECT a0.cluster AS cid, le.pos,
       |      CAST(SUM(CAST(CAST(le.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
       |        / COUNT(*) AS cd
       |    FROM (SELECT vec_id, unnest(embedding) AS v,
       |            generate_subscripts(embedding, 1) AS pos FROM e) le
       |    JOIN a0 ON a0.vec_id = le.vec_id
       |    GROUP BY 1, 2)
       |  GROUP BY cid),
       |d1 AS (
       |  SELECT e.vec_id, c1.cid, ${sq("e.embedding", "c1.c")} AS dist
       |  FROM e CROSS JOIN c1),
       |a1 AS (${argmin("d1")})""".stripMargin
  }

  private val qKmeansExactSql =
    s"""WITH $lloydCtes
       |SELECT vec_id, cluster FROM a1 ORDER BY vec_id""".stripMargin

  /** The reference's FLAGSHIP EP1 flow end-to-end with COMPUTED
    * clusters, value-exact: Lloyd's labels → per-cluster 25–75
    * percentile band with small-group passthrough → stride sample of
    * ≤5 per cluster. q_cluster_select gates the same pipeline on
    * precomputed labels and q_kmeans_select on MLlib labels
    * (rows-only); this is the full computed-cluster path under the
    * exact oracle. */
  private def qClusterSelectExact(implicit s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Selection
    val labeled = Clustering.lloydExactAssign(embs, "vec_id", "embedding",
      k = 4, iters = 2)
    val conf = round(graft.plans.PosWeightedSum(col("embedding")), 6)
    val scored = labeled.select(col("vec_id"), col("cluster"), conf.as("conf"))
    val band = Selection.percentileBand(scored, "cluster", "conf",
      0.25, 0.75, minGroupSize = 20)
    Selection.strideSample(band, "cluster", "vec_id", 5)
      .select(col("cluster"), col("vec_id"), col("conf"))
      .orderBy(col("cluster"), col("vec_id"))
  }

  private val qClusterSelectExactSql =
    s"""WITH $lloydCtes,
       |conf AS (
       |  SELECT a1.vec_id, a1.cluster,
       |    round(list_aggregate(list_transform(e.embedding,
       |      (x, i) -> CAST(x AS DOUBLE) * i), 'sum'), 6) AS conf
       |  FROM a1 JOIN e ON e.vec_id = a1.vec_id),
       |th AS (
       |  SELECT cluster, quantile_cont(conf, 0.25) AS lo,
       |         quantile_cont(conf, 0.75) AS hi, count(*) AS n
       |  FROM conf GROUP BY cluster),
       |band AS (
       |  SELECT c.vec_id, c.cluster, c.conf
       |  FROM conf c JOIN th ON c.cluster = th.cluster
       |  WHERE th.n < 20 OR (c.conf >= th.lo AND c.conf <= th.hi)),
       |rn AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn,
       |         count(*) OVER (PARTITION BY cluster) AS cnt
       |  FROM band)
       |SELECT cluster, vec_id, conf FROM (
       |  SELECT *, greatest(cnt // 5, 1) AS step FROM rn)
       |WHERE cnt <= 5 OR ((rn - 1) % step = 0 AND (rn - 1) // step < 5)
       |ORDER BY cluster, vec_id""".stripMargin

  /** PCA projection to 10 dims (reference pre-t-SNE step); output is
    * per-vector projection energy (PCA sign indeterminacy makes raw
    * components non-comparable). */
  private def qPca(implicit s: SparkSession, dir: String): DataFrame =
    Clustering.pcaProject(embs, "embedding", dims = 10)
      .select(col("vec_id"),
        round(aggregate(transform(col("pca"), x => x * x), lit(0.0),
          (a, x) => a + x), 6).as("pca_energy"))
      .orderBy(col("vec_id"))

  /** Oracle-EXACT leading-component sibling of q_pca_energy:
    * fixed-init power iteration (2 rounds) — the DuckDB oracle
    * unrolls the identical rounds, so the per-vector projection
    * values hash-match. */
  private def qPcaExact(implicit s: SparkSession, dir: String): DataFrame =
    Clustering.powerIterProjection(embs, "embedding", iters = 2)
      .select(col("vec_id"), round(col("proj"), 6).as("proj"))
      .orderBy(col("vec_id"))

  private val qPcaExactSql = {
    def dot(vl: String) =
      s"""list_aggregate(list_transform(list_zip(e.embedding, $vl),
         |      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')""".stripMargin
    def iter(sPrev: String, vNext: String) =
      s"""n$vNext AS (
         |  SELECT pos, CAST(SUM(CAST(CAST(x AS DOUBLE) * s AS DECIMAL(28,10)))
         |    AS DOUBLE) AS cn
         |  FROM (SELECT le.pos, le.x, $sPrev.s
         |        FROM (SELECT vec_id, unnest(embedding) AS x,
         |                generate_subscripts(embedding, 1) AS pos FROM e) le
         |        JOIN $sPrev ON $sPrev.vec_id = le.vec_id)
         |  GROUP BY pos),
         |$vNext AS (
         |  SELECT list_transform(cl, c -> c / sqrt(
         |    list_aggregate(list_transform(cl, x -> x * x), 'sum'))) AS vl
         |  FROM (SELECT list(cn ORDER BY pos) AS cl FROM n$vNext))""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |v0 AS (
       |  SELECT list_transform(range(1, len(embedding) + 1),
       |    i -> 1.0 / sqrt(CAST(len(embedding) AS DOUBLE))) AS vl
       |  FROM e WHERE vec_id = 0),
       |s0 AS (SELECT e.vec_id, ${dot("v0.vl")} AS s FROM e CROSS JOIN v0),
       |${iter("s0", "v1")},
       |s1 AS (SELECT e.vec_id, ${dot("v1.vl")} AS s FROM e CROSS JOIN v1),
       |${iter("s1", "v2")}
       |SELECT e.vec_id, round(${dot("v2.vl")}, 6) AS proj
       |FROM e CROSS JOIN v2 ORDER BY e.vec_id""".stripMargin
  }

  /** Streaming hourly aggregation — same semantics as the batch
    * q_hourly_events, checked against the SAME DuckDB oracle: the
    * tumbling window start equals date_trunc('hour'). */
  private def qStreamHourly(implicit s: SparkSession, dir: String): DataFrame =
    EventStreams.streamingHourly(s, dir)
      .orderBy(col("hour"), col("event_type"))

  private val qStreamHourlySql =
    """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(30,4))), 2) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Streaming drift monitor — [[EventStreams.streamingDrift]]: the
    * per-hour event-type distribution streamed through a tumbling
    * window, scored as smoothed KL divergence against the broadcast
    * at-rest baseline. The oracle replays the windowed counts AND the
    * divergence arithmetic from the same rows (`graft.operators.Drift`
    * decimal recipe), so the gate proves streamed state accumulation
    * plus the drift math end-to-end. */
  private def qStreamDrift(implicit s: SparkSession, dir: String): DataFrame =
    EventStreams.streamingDrift(s, dir).orderBy(col("hour"))

  private val qStreamDriftSql =
    """WITH streamed AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |base AS (SELECT event_type, COUNT(*) AS cq FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cq) AS BIGINT) AS t_all, COUNT(*) AS n_a FROM base),
      |hours AS (SELECT hour, CAST(SUM(c) AS BIGINT) AS t_grp FROM streamed GROUP BY 1),
      |grid AS (
      |  SELECT h.hour, h.t_grp, b.event_type, b.cq, coalesce(s.c, 0) AS c
      |  FROM hours h CROSS JOIN base b
      |  LEFT JOIN streamed s ON s.hour = h.hour AND s.event_type = b.event_type),
      |terms AS (
      |  SELECT hour, t_grp, n_a,
      |    CAST(c + 1 AS DECIMAL(20,0)) * CAST(round(ln(
      |      ((c + 1.0) / CAST(t_grp + n_a AS DOUBLE)) /
      |      ((cq + 1.0) / CAST(t_all + n_a AS DOUBLE))), 6) AS DECIMAL(18,6)) AS term
      |  FROM grid CROSS JOIN tot)
      |SELECT hour, CAST(MAX(t_grp) AS BIGINT) AS n_events,
      |  CAST(floor(CAST(SUM(term) AS DOUBLE)
      |    / CAST(MAX(t_grp) + MAX(n_a) AS DOUBLE) * 1e9) AS BIGINT) AS kl_e9
      |FROM terms GROUP BY hour ORDER BY hour""".stripMargin

  /** Streaming KMV distinct-user sketch — see
    * [[EventStreams.streamingKmv]]; the oracle is the BATCH sketch
    * replay (distinct seeded hashes, k smallest, same estimate
    * literal), so the gate proves streamed state-store accumulation
    * equals the one-shot batch sketch bit-for-bit. */
  private val StreamKmvK = 512
  private def qStreamKmv(implicit s: SparkSession, dir: String): DataFrame =
    EventStreams.streamingKmv(s, dir, StreamKmvK)

  private val qStreamKmvSql = {
    import graft.operators.Sketches
    val h = Sketches.kmvHashSql("user_id")
    val num = Sketches.kmvNumerator(StreamKmvK)
    s"""WITH hv AS (SELECT DISTINCT $h AS hv FROM events),
       |sk AS (SELECT hv FROM hv ORDER BY hv LIMIT $StreamKmvK)
       |SELECT COUNT(*) AS k_got, MAX(hv) AS kth_min,
       |  CASE WHEN COUNT(*) < $StreamKmvK THEN COUNT(*)
       |       ELSE CAST(floor($num / CAST(MAX(hv) AS DOUBLE)) AS BIGINT) END
       |    AS est_distinct
       |FROM sk""".stripMargin
  }

  /** Stateful sessionization (30-min gap) via flatMapGroupsWithState;
    * emits closed sessions only (open sessions stay in state — the
    * streaming-correct behavior on an unbounded source). On the
    * bounded single-batch source that means exactly "every session
    * but each user's last", which the batch oracle expresses
    * relationally. */
  private def qSessionize(implicit s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionize(s, dir, gapMinutes = 30)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))

  /** The same sessionizer on the Spark-4 `transformWithState` API
    * ([[EventStreams.sessionizeTws]]): identical state machine in an
    * explicit StatefulProcessor over RocksDB typed state, gated by
    * the IDENTICAL batch oracle — API migration proven
    * output-invisible. */
  private def qSessionizeTws(implicit s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionizeTws(s, dir, gapMinutes = 30)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))

  private val qSessionizeSql =
    """WITH m AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |s AS (
      |  SELECT user_id, SUM(new_sess) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM m),
      |g AS (
      |  SELECT user_id, sess_id, COUNT(*) AS n_events
      |  FROM s GROUP BY user_id, sess_id),
      |last AS (SELECT user_id, MAX(sess_id) AS last_sess FROM g GROUP BY user_id)
      |SELECT g.user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events
      |FROM g JOIN last ON g.user_id = last.user_id
      |WHERE g.sess_id < last.last_sess
      |GROUP BY g.user_id ORDER BY g.user_id""".stripMargin

  /** Multimodal: media table → decode → features + frame sampling;
    * aggregated per kind. Image rows carry REAL ImageIO-encoded
    * PNG/JPEG payloads whose headers the decoder parses back (f0 =
    * parsed width, which the oracle predicts from the id recipe);
    * audio/video stay on the stub byte-stats decoder (pure-ASCII
    * corpus, so the oracle replays its FLOAT accumulation order with
    * per-step REAL casts). */
  private def qMultimodal(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mixedMedia(Tables.documents(s, dir), "doc_id", "text")
    val feats = Multimodal.extractFeatures(media,
      () => new Multimodal.ImageHeaderDecoder())
    Multimodal.sampleFrames(feats, stride = 4, maxFrames = 8)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        round(avg(col("n_frames")), 4).as("avg_frames"),
        round(avg(element_at(col("features"), 1)), 6).as("avg_f0"),
        round(avg(size(col("frame_idx"))), 4).as("avg_sampled"))
      .orderBy(col("kind"))
  }

  private val qMultimodalSql =
    """WITH m AS (
      |  SELECT doc_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |    length(text) AS n_bytes,
      |    string_split(text, '') AS chars
      |  FROM documents),
      |f AS (
      |  SELECT kind,
      |    CASE kind WHEN 'video' THEN CAST(greatest(1, n_bytes // 64) AS INTEGER)
      |              WHEN 'audio' THEN CAST(greatest(1, n_bytes // 16) AS INTEGER)
      |              ELSE 1 END AS n_frames,
      |    CASE WHEN kind = 'image' THEN CAST(16 + doc_id % 17 AS DOUBLE)
      |         WHEN n_bytes = 0 THEN CAST(CAST(0 AS REAL) AS DOUBLE)
      |         ELSE CAST(CAST(list_reduce(
      |             list_transform(range(1, len(chars) + 1, 8),
      |               i -> CAST(CAST(ascii(chars[i]) AS REAL) / CAST(255 AS REAL) AS REAL)),
      |             (a, b) -> CAST(a + b AS REAL)) / CAST(n_bytes AS REAL) AS REAL) AS DOUBLE)
      |    END AS f0
      |  FROM m),
      |g AS (
      |  SELECT kind, n_frames, f0,
      |    CASE WHEN n_frames > 1 THEN least(8, (n_frames - 1) // 4 + 1)
      |         ELSE 1 END AS n_sampled
      |  FROM f)
      |SELECT kind, COUNT(*) AS n_media,
      |  round(avg(n_frames), 4) AS avg_frames,
      |  round(avg(f0), 6) AS avg_f0,
      |  round(avg(n_sampled), 4) AS avg_sampled
      |FROM g GROUP BY kind ORDER BY kind""".stripMargin

  /** Per-row REAL-codec gate: every payload is an actual PNG or JPEG
    * (encoded by the JDK's ImageIO), and the engine's byte-level
    * header parser must recover format, dimensions, and channel count
    * for every row — the oracle predicts all of it from the id
    * recipe, so a single mis-parsed byte offset fails the hash. */
  private def qImageHeaders(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.imageMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 0), "doc_id")
    Multimodal.decodeHeaders(media).orderBy(col("media_id"))
  }

  private val qImageHeadersSql =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
      |  CAST(16 + doc_id % 17 AS INTEGER) AS width,
      |  CAST(12 + doc_id % 13 AS INTEGER) AS height,
      |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels
      |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin

  /** Per-row REAL-audio-codec gate, the WAV twin of q_image_headers:
    * every payload is an actual RIFF/WAVE PCM file written by
    * [[Multimodal.AudioCodec]], and the byte-level chunk-walking
    * parser must recover sample rate, channel count, bit depth, and
    * frame count for every row — the oracle predicts all of it from
    * the id recipe, so a single mis-read offset or a wrong block-align
    * division fails the hash. */
  private def qAudioHeaders(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.audioMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 1), "doc_id")
    Multimodal.decodeAudioHeaders(media).orderBy(col("media_id"))
  }

  private val qAudioHeadersSql =
    """SELECT doc_id AS media_id, 'wav' AS fmt,
      |  [8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INTEGER) + 1] AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
      |  CAST(CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 16 END AS INTEGER) AS bits,
      |  CAST(32 + doc_id % 29 AS INTEGER) AS n_samples
      |FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id""".stripMargin

  /** Real PCM SAMPLE-decode gate (a level deeper than the header
    * gate): Spark decodes the actual interleaved byte stream —
    * unsigned-8-bit recentering, signed-LE-16-bit reinterpretation —
    * and computes RMS energy + peak; the oracle replays the
    * deterministic sample RECIPE arithmetic, never touching bytes. A
    * sign-extension or byte-order bug on the Spark side changes every
    * energy value and fails the hash. */
  private def qAudioEnergy(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.audioMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 1), "doc_id")
    Multimodal.decodeAudioFeatures(media)
      .select(col("media_id"), col("n_samples"),
        round(col("rms"), 6).as("rms"), round(col("peak"), 6).as("peak"))
      .orderBy(col("media_id"))
  }

  private val qAudioEnergySql =
    """WITH aud AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 2 AS BIGINT) AS ch,
      |    CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 16 END AS bits,
      |    CAST(32 + doc_id % 29 AS BIGINT) AS ns
      |  FROM documents WHERE doc_id % 3 = 1),
      |xs AS (
      |  SELECT doc_id, ns,
      |    list_transform(range(0, ns * ch), k ->
      |      CASE WHEN bits = 8
      |        THEN (CAST((doc_id * 31 + (k // ch) * 17 + (k % ch) * 7) % 256 AS DOUBLE) - 128) / 128.0
      |        ELSE CAST(CASE WHEN (doc_id * 131 + (k // ch) * 7919 + (k % ch) * 101) % 65536 >= 32768
      |                  THEN (doc_id * 131 + (k // ch) * 7919 + (k % ch) * 101) % 65536 - 65536
      |                  ELSE (doc_id * 131 + (k // ch) * 7919 + (k % ch) * 101) % 65536 END AS DOUBLE) / 32768.0
      |      END) AS x
      |  FROM aud)
      |SELECT doc_id AS media_id, CAST(ns AS INTEGER) AS n_samples,
      |  round(sqrt(list_aggregate(list_transform(x, v -> v * v), 'sum') / len(x)), 6) AS rms,
      |  round(list_aggregate(list_transform(x, v -> abs(v)), 'max'), 6) AS peak
      |FROM xs ORDER BY media_id""".stripMargin

  /** WAVEFORM DOWNSAMPLE over the REAL WAV decode
    * ([[Multimodal.downsamplePcm]]) — the audio twin of
    * `q_image_resize`: 8 time boxes per track, per-box mean of the
    * interleaved normalized samples, sums folded in sample order so
    * the oracle's list_aggregate over an order-preserving list_filter
    * replays the doubles bit-exactly. */
  private def qAudioDownsample(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.audioMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 1), "doc_id")
    Multimodal.downsamplePcm(media, buckets = 8)
      .select(col("media_id"), col("n_samples"), col("bucket"),
        round(col("mean"), 6).as("mean"))
      .orderBy(col("media_id"), col("bucket"))
  }

  private val qAudioDownsampleSql =
    """WITH aud AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 2 AS BIGINT) AS ch,
      |    CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 16 END AS bits,
      |    CAST(32 + doc_id % 29 AS BIGINT) AS ns
      |  FROM documents WHERE doc_id % 3 = 1),
      |xs AS (
      |  SELECT doc_id, ns, ch,
      |    list_transform(range(0, ns * ch), k ->
      |      CASE WHEN bits = 8
      |        THEN (CAST((doc_id * 31 + (k // ch) * 17 + (k % ch) * 7) % 256 AS DOUBLE) - 128) / 128.0
      |        ELSE CAST(CASE WHEN (doc_id * 131 + (k // ch) * 7919 + (k % ch) * 101) % 65536 >= 32768
      |                  THEN (doc_id * 131 + (k // ch) * 7919 + (k % ch) * 101) % 65536 - 65536
      |                  ELSE (doc_id * 131 + (k // ch) * 7919 + (k % ch) * 101) % 65536 END AS DOUBLE) / 32768.0
      |      END) AS x
      |  FROM aud)
      |SELECT doc_id AS media_id, CAST(ns AS INTEGER) AS n_samples,
      |  CAST(b AS INTEGER) AS bucket,
      |  round(list_aggregate(list_filter(x, (v, i) -> ((i - 1) // ch) * 8 // ns = b), 'sum')
      |    / len(list_filter(x, (v, i) -> ((i - 1) // ch) * 8 // ns = b)), 6) AS mean
      |FROM xs CROSS JOIN (SELECT unnest(range(8)) AS b)
      |WHERE len(list_filter(x, (v, i) -> ((i - 1) // ch) * 8 // ns = b)) > 0
      |ORDER BY media_id, bucket""".stripMargin

  /** Real image PIXEL-decode gate (a level deeper than q_image_headers,
    * the image twin of q_audio_energy): Spark runs the actual ImageIO
    * PNG decoder and sums RGB channels as exact integers; PNG is
    * lossless, so the oracle replays the pixel-fill recipe
    * `(x·31 + y·17) & 0xffffff` with pure integer arithmetic. The fill
    * never reaches the R byte (values < 2¹⁶), so sum_r must be exactly
    * 0 — which makes a swapped channel order (RGB/BGR, the classic
    * decode bug) instantly visible. Color PNGs only: JPEG is lossy and
    * the grayscale writer applies a luminance transform. */
  private def qImagePixels(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.imageMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 0 &&
        col("doc_id") % 2 === 0 && col("doc_id") % 5 =!= 0), "doc_id")
    Multimodal.decodePixelSums(media).orderBy(col("media_id"))
  }

  private val qImagePixelsSql =
    """WITH img AS (
      |  SELECT doc_id,
      |    CAST(16 + doc_id % 17 AS BIGINT) AS w,
      |    CAST(12 + doc_id % 13 AS BIGINT) AS h
      |  FROM documents
      |  WHERE doc_id % 3 = 0 AND doc_id % 2 = 0 AND doc_id % 5 <> 0)
      |SELECT doc_id AS media_id,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(list_aggregate(flatten(list_transform(range(w), x ->
      |    list_transform(range(h), y -> (x * 31 + y * 17) // 65536 % 256))), 'sum') AS BIGINT) AS sum_r,
      |  CAST(list_aggregate(flatten(list_transform(range(w), x ->
      |    list_transform(range(h), y -> (x * 31 + y * 17) // 256 % 256))), 'sum') AS BIGINT) AS sum_g,
      |  CAST(list_aggregate(flatten(list_transform(range(w), x ->
      |    list_transform(range(h), y -> (x * 31 + y * 17) % 256))), 'sum') AS BIGINT) AS sum_b
      |FROM img ORDER BY media_id""".stripMargin

  /** IMAGE RESIZE over REAL decoded pixels
    * ([[Multimodal.resizeBox]]): every color PNG box-average
    * downsamples to a 4×3 lattice — the standard thumbnail /
    * feature-extraction preprocessing step, one output row per cell
    * with floor-div channel means from exact integer sums. The
    * oracle replays the lattice and the means from the analytic
    * pixel recipe the fixture PNGs encode (the `q_image_pixels`
    * contract), so the REAL ImageIO decode gates hash-exact. */
  private def qImageResize(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.imageMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 0 &&
        col("doc_id") % 2 === 0 && col("doc_id") % 5 =!= 0), "doc_id")
    Multimodal.resizeBox(media, gw = 4, gh = 3)
      .orderBy(col("media_id"), col("cy"), col("cx"))
  }

  private val qImageResizeSql =
    """WITH img AS (
      |  SELECT doc_id,
      |    CAST(16 + doc_id % 17 AS BIGINT) AS w,
      |    CAST(12 + doc_id % 13 AS BIGINT) AS h
      |  FROM documents
      |  WHERE doc_id % 3 = 0 AND doc_id % 2 = 0 AND doc_id % 5 <> 0),
      |px AS (
      |  SELECT doc_id, w, h,
      |    CAST(x * 4 // w AS INTEGER) AS cx,
      |    CAST(y * 3 // h AS INTEGER) AS cy,
      |    (x*31 + y*17) // 65536 % 256 AS r,
      |    (x*31 + y*17) // 256 % 256 AS g,
      |    (x*31 + y*17) % 256 AS b
      |  FROM (SELECT doc_id, w, h, unnest(range(w)) AS x FROM img),
      |    LATERAL (SELECT unnest(range(h)) AS y))
      |SELECT doc_id AS media_id,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  cx, cy,
      |  CAST(SUM(r) // COUNT(*) AS INTEGER) AS r,
      |  CAST(SUM(g) // COUNT(*) AS INTEGER) AS g,
      |  CAST(SUM(b) // COUNT(*) AS INTEGER) AS b
      |FROM px GROUP BY 1, 2, 3, 4, 5
      |ORDER BY media_id, cy, cx""".stripMargin

  /** IMAGE near-dup dedup over REAL decoded pixels — the multimodal
    * member of the dedup family: every color PNG is aHashed
    * ([[graft.multimodal.Multimodal.decodeAHash]] — 8×8 cell lattice
    * over the ImageIO decode, bit = cell brightness above image mean,
    * all exact integer arithmetic), identical hashes collapse to
    * families (crop-replicas of the shared analytic pattern make real
    * families), and near-dup FAMILY pairs come from the same
    * pigeonhole segment blocking as text SimHash
    * ([[graft.operators.Dedup.simhashPairs]], 64 bits / 4 segments,
    * full recall for Hamming ≤ 3). Collapse-first keeps the pair
    * stage bounded by the distinct-hash count at every SF.
    *
    * The oracle replays decode-free: PNG is lossless and the fixture
    * pixels are the analytic fill `(x·31+y·17) & 0xffffff`, so cell
    * sums, the hash, the blocking, and the Hamming filter all rerun
    * as integer SQL — per distinct (w,h) CLASS, not per image
    * (the hash is a function of geometry alone here). */
  private val AHashMaxHamming = 3

  private def qImageDedup(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.imageMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 0 &&
        col("doc_id") % 2 === 0 && col("doc_id") % 5 =!= 0), "doc_id")
    val ah = Multimodal.decodeAHash(media, grid = 8)
      .where(col("ahash").isNotNull)
    val fams = graft.core.Caches.track(
      ah.groupBy(col("ahash")).agg(min(col("media_id")).as("rep"),
        count(lit(1)).as("sz")))
    val pairs = graft.operators.Dedup.simhashPairs(
      fams.select(col("rep"), col("ahash").as("simhash")),
      "rep", maxHamming = AHashMaxHamming, bits = 64, segments = 4)
    pairs
      .join(fams.select(col("rep").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(fams.select(col("rep").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"),
        col("sz_a"), col("sz_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** INCREMENTAL image dedup — the daily-ingest lifecycle for the
    * aHash family ([[graft.multimodal.Multimodal.ImageHashStore]],
    * the `q_dup_span_absorb` shape for images): day 1 (doc_id % 7 ∉
    * {0, 3} of the image slice) decodes and persists families /
    * pigeonhole segments / HASH-level pairs; day 2's delta (% 7 = 3)
    * is ABSORBED into generation 2 on disk; day 3's delta (% 7 = 0)
    * probes the regenerated store, decoding ONLY its own images.
    * Exact by hash-level immutability: a pair's Hamming distance is a
    * pure function of the two 64-bit hashes, so pairs only ever get
    * ADDED as unseen hashes arrive, and family reps/sizes merge
    * per-hash. Oracle IS `q_image_dedup`'s from-scratch SQL over the
    * full corpus — the probe cannot tell the store was built in
    * generations. */
  private def qImageDedupDay2(implicit s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal.ImageHashStore
    val imgDocs = Tables.documents(s, dir).where(col("doc_id") % 3 === 0 &&
      col("doc_id") % 2 === 0 && col("doc_id") % 5 =!= 0)
    def hashes(d: org.apache.spark.sql.DataFrame) =
      Multimodal.decodeAHash(Multimodal.imageMedia(d, "doc_id"), grid = 8)
        .where(col("ahash").isNotNull)
        .select(col("media_id"), col("ahash"))
    val (tag1, tag2) = (Store.tag("day2g1", dir), Store.tag("day2g2", dir))
    ImageHashStore.once(tag1) {
      ImageHashStore.write(s,
        hashes(imgDocs.where(col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 3)),
        tag1, maxHamming = AHashMaxHamming)
    }
    ImageHashStore.once(tag2) {
      ImageHashStore.absorb(s, tag1, tag2,
        hashes(imgDocs.where(col("doc_id") % 7 === 3)),
        maxHamming = AHashMaxHamming)
    }
    ImageHashStore.day2Pairs(s,
        hashes(imgDocs.where(col("doc_id") % 7 === 0)),
        tag2, maxHamming = AHashMaxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val qImageDedupSql =
    s"""WITH img AS (
       |  SELECT doc_id, CAST(16 + doc_id % 17 AS BIGINT) AS w,
       |    CAST(12 + doc_id % 13 AS BIGINT) AS h
       |  FROM documents
       |  WHERE doc_id % 3 = 0 AND doc_id % 2 = 0 AND doc_id % 5 <> 0),
       |cls AS (SELECT DISTINCT w, h FROM img),
       |px AS (
       |  SELECT w, h, ux.x, uy.y,
       |    ((ux.x * 31 + uy.y * 17) // 65536 % 256)
       |      + ((ux.x * 31 + uy.y * 17) // 256 % 256)
       |      + ((ux.x * 31 + uy.y * 17) % 256) AS br,
       |    (uy.y * 8 // h) * 8 + (ux.x * 8 // w) AS c
       |  FROM cls, unnest(range(w)) AS ux(x), unnest(range(h)) AS uy(y)),
       |cellsums AS (
       |  SELECT w, h, c, CAST(SUM(br) AS BIGINT) AS cs, COUNT(*) AS cn
       |  FROM px GROUP BY 1, 2, 3),
       |tot AS (SELECT w, h, CAST(SUM(cs) AS BIGINT) AS ts,
       |          CAST(SUM(cn) AS BIGINT) AS tn
       |        FROM cellsums GROUP BY 1, 2),
       |ah AS (
       |  SELECT w, h, CAST(SUM(CASE WHEN cs * tn > ts * cn THEN
       |      CASE WHEN c = 63 THEN -9223372036854775808 ELSE (1::BIGINT << CAST(c AS INTEGER)) END
       |    ELSE 0 END) AS BIGINT) AS ahash
       |  FROM cellsums JOIN tot USING (w, h) GROUP BY w, h),
       |ids AS (SELECT i.doc_id, a.ahash FROM img i JOIN ah a USING (w, h)),
       |fams AS (SELECT ahash, MIN(doc_id) AS rep, COUNT(*) AS sz
       |         FROM ids GROUP BY ahash),
       |segs AS (
       |  SELECT rep, ahash, u.s, (ahash >> CAST(u.s * 16 AS INTEGER)) & 65535 AS segval
       |  FROM fams, unnest(range(4)) AS u(s)),
       |cand AS (
       |  SELECT DISTINCT x.rep AS id_a, y.rep AS id_b
       |  FROM segs x JOIN segs y ON x.s = y.s AND x.segval = y.segval
       |    AND x.rep < y.rep)
       |SELECT c.id_a, c.id_b,
       |  CAST(bit_count(xor(fa.ahash, fb.ahash)) AS INTEGER) AS hamming,
       |  fa.sz AS sz_a, fb.sz AS sz_b
       |FROM cand c
       |JOIN fams fa ON fa.rep = c.id_a
       |JOIN fams fb ON fb.rep = c.id_b
       |WHERE bit_count(xor(fa.ahash, fb.ahash)) <= $AHashMaxHamming
       |ORDER BY c.id_a, c.id_b""".stripMargin

  /** Per-row REAL-video-container gate, the AVI third of the codec
    * trio: every payload is a valid RIFF/AVI skeleton written by
    * [[Multimodal.VideoCodec]], and the nested chunk walk (RIFF →
    * LIST hdrl → avih) must recover geometry, frame count, and frame
    * timing for every row — the oracle predicts all of it from the id
    * recipe. Frame decode stays out of scope by design (header fields
    * are what the metadata pipeline consumes; no ffmpeg offline). */
  private def qVideoHeaders(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.videoMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 2), "doc_id")
    Multimodal.decodeVideoHeaders(media).orderBy(col("media_id"))
  }

  private val qVideoHeadersSql =
    """SELECT doc_id AS media_id, 'avi' AS fmt,
      |  CAST(160 + (doc_id % 9) * 16 AS INTEGER) AS width,
      |  CAST(120 + (doc_id % 7) * 8 AS INTEGER) AS height,
      |  CAST(10 + doc_id % 23 AS INTEGER) AS n_frames,
      |  CAST(20000 + (doc_id % 5) * 10000 AS INTEGER) AS us_per_frame
      |FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id""".stripMargin

  /** Frame sampling over REAL video containers: n_frames comes from
    * the parsed avih header (not a byte-length heuristic), then the
    * standard stride/cap sampling runs over it — the operator chain a
    * video curation pipeline uses to pick frames for feature
    * extraction. Oracle replays the recipe + the sampling arithmetic. */
  private def qVideoFrameSample(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.videoMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 2), "doc_id")
    val headers = Multimodal.decodeVideoHeaders(media)
    Multimodal.sampleFrames(headers, stride = 4, maxFrames = 8)
      .select(col("media_id"), col("n_frames"),
        size(col("frame_idx")).as("n_sampled"),
        element_at(col("frame_idx"), -1).as("last_frame"))
      .orderBy(col("media_id"))
  }

  private val qVideoFrameSampleSql =
    """WITH v AS (
      |  SELECT doc_id AS media_id,
      |    CAST(10 + doc_id % 23 AS INTEGER) AS n_frames
      |  FROM documents WHERE doc_id % 3 = 2),
      |s AS (
      |  SELECT media_id, n_frames,
      |    CASE WHEN n_frames > 1
      |      THEN least(8, (n_frames - 1) // 4 + 1)
      |      ELSE 1 END AS n_sampled
      |  FROM v)
      |SELECT media_id, n_frames, CAST(n_sampled AS INTEGER) AS n_sampled,
      |  CAST(CASE WHEN n_frames > 1 THEN (n_sampled - 1) * 4 ELSE 0 END
      |    AS INTEGER) AS last_frame
      |FROM s ORDER BY media_id""".stripMargin

  /** REAL frame-decode gate — the r6 stub's retirement: every video
    * payload is a full AVI whose LIST('movi') carries a genuine
    * Motion-PNG (even ids) or Motion-JPEG (odd ids) '00dc' stream;
    * [[Multimodal.decodeVideoFrames]] walks the container, stride-
    * samples frame indices, and runs the ACTUAL image codec on each
    * sampled frame. The oracle replays per-frame geometry for both
    * codecs and — PNG being lossless — every channel sum of every
    * sampled PNG frame in pure integer arithmetic from the fill recipe
    * `(x·31 + y·17 + 7·frame) & 0xffffff`; a wrong chunk offset, frame
    * order, channel order, or codec dispatch fails the hash. JPEG
    * frames gate geometry (sums NULL: the DCT round trip is real but
    * lossy — pixel-closeness for MJPEG is spec-asserted instead). */
  private def qVideoFramesReal(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.framedVideoMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 2), "doc_id")
    Multimodal.decodeVideoFrames(media, stride = 2, maxFrames = 8)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  private val qVideoFramesRealSql = {
    def chan(expr: String) =
      s"""CAST(list_aggregate(flatten(list_transform(range(w), x ->
         |    list_transform(range(h), y -> $expr))), 'sum') AS BIGINT)""".stripMargin
    s"""WITH v AS (
       |  SELECT doc_id,
       |    CAST(16 + (doc_id % 9) * 2 AS BIGINT) AS w,
       |    CAST(12 + (doc_id % 7) * 2 AS BIGINT) AS h,
       |    CAST(3 + doc_id % 4 AS BIGINT) AS nf,
       |    doc_id % 2 = 0 AS is_png
       |  FROM documents WHERE doc_id % 3 = 2),
       |fr AS (
       |  SELECT doc_id, w, h, is_png,
       |    unnest(range(0, nf, 2)) AS frame_idx
       |  FROM v)
       |SELECT doc_id AS media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       |  CASE WHEN is_png THEN 'png' ELSE 'jpeg' END AS codec,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  CASE WHEN is_png THEN
       |    ${chan("(x * 31 + y * 17 + frame_idx * 7) // 65536 % 256")} END AS sum_r,
       |  CASE WHEN is_png THEN
       |    ${chan("(x * 31 + y * 17 + frame_idx * 7) // 256 % 256")} END AS sum_g,
       |  CASE WHEN is_png THEN
       |    ${chan("(x * 31 + y * 17 + frame_idx * 7) % 256")} END AS sum_b
       |FROM fr ORDER BY media_id, frame_idx""".stripMargin
  }

  /** FRAME-LEVEL RESIZE gate ([[Multimodal.resizeVideoFrames]]):
    * every stride-sampled LOSSLESS (Motion-PNG, even ids) frame of
    * every AVI box-average downsamples to a 4×3 thumbnail lattice via
    * the REAL container walk + ImageIO decode; the oracle replays the
    * per-frame analytic fill recipe through the same lattice. JPEG
    * frames emit no rows (lossy — no exact twin). */
  private def qVideoFrameResize(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.framedVideoMedia(
      Tables.documents(s, dir).where(col("doc_id") % 3 === 2), "doc_id")
    Multimodal.resizeVideoFrames(media, stride = 2, maxFrames = 8,
        gw = 4, gh = 3)
      .orderBy(col("media_id"), col("frame_idx"), col("cy"), col("cx"))
  }

  private val qVideoFrameResizeSql =
    """WITH v AS (
      |  SELECT doc_id,
      |    CAST(16 + (doc_id % 9) * 2 AS BIGINT) AS w,
      |    CAST(12 + (doc_id % 7) * 2 AS BIGINT) AS h,
      |    CAST(3 + doc_id % 4 AS BIGINT) AS nf
      |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 2 = 0),
      |fr AS (
      |  SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS frame_idx FROM v),
      |px AS (
      |  SELECT doc_id, frame_idx, w, h,
      |    CAST(x * 4 // w AS INTEGER) AS cx,
      |    CAST(y * 3 // h AS INTEGER) AS cy,
      |    (x*31 + y*17 + frame_idx*7) // 65536 % 256 AS r,
      |    (x*31 + y*17 + frame_idx*7) // 256 % 256 AS g,
      |    (x*31 + y*17 + frame_idx*7) % 256 AS b
      |  FROM (SELECT doc_id, frame_idx, w, h, unnest(range(w)) AS x FROM fr),
      |    LATERAL (SELECT unnest(range(h)) AS y))
      |SELECT doc_id AS media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  cx, cy,
      |  CAST(SUM(r) // COUNT(*) AS INTEGER) AS r,
      |  CAST(SUM(g) // COUNT(*) AS INTEGER) AS g,
      |  CAST(SUM(b) // COUNT(*) AS INTEGER) AS b
      |FROM px GROUP BY 1, 2, 3, 4, 5, 6
      |ORDER BY media_id, frame_idx, cy, cx""".stripMargin

  /** STREAMING model scoring gate: the same `withModelScores`
    * mapPartitions operator as the batch q_proxy_scores, run by
    * Structured Streaming over an unbounded document source with a
    * stateful per-source aggregation on top — "score documents as
    * they arrive". Oracle-exact: per-row scores are rounded then
    * summed through DECIMAL, so DuckDB replays the stream's totals
    * digit-for-digit from the batch table. */
  private def qStreamScores(implicit s: SparkSession, dir: String): DataFrame =
    EventStreams.streamingProxyScores(s, dir,
        () => new graft.operators.Scorers.ProxyBackend(42L))
      .orderBy(col("source"))

  private val qStreamScoresSql = {
    import graft.operators.Scorers.ProxyBackend.unitSql
    s"""SELECT source, COUNT(*) AS n,
       |  CAST(ROUND(SUM(CAST(round(2.0 + 30.0 * ${unitSql(42L, "'ppl:' || text")}, 6)
       |    AS DECIMAL(30,10))), 4) AS DOUBLE) AS ppl_total
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** The multimodal CAPSTONE: the production operator chain
    * (media table → [[Multimodal.extractFeatures]] with one decoder
    * init per partition → per-row features) over a table where EVERY
    * payload is a real container and the decoder is the real
    * [[Multimodal.RealDecoder]] — image headers, actual PCM sample
    * decode, avih frame counts, in one pass. The oracle predicts every
    * value from the id recipes (audio RMS/peak replayed in pure
    * arithmetic, narrowed through REAL to match the float32 feature
    * column). */
  private def qMediaFeaturesReal(implicit s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.realMedia(Tables.documents(s, dir), "doc_id")
    Multimodal.extractFeatures(media, () => new Multimodal.RealDecoder())
      .select(col("media_id"), col("kind"), col("n_frames"),
        round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
        round(element_at(col("features"), 2).cast("double"), 6).as("f1"))
      .orderBy(col("media_id"))
  }

  private val qMediaFeaturesRealSql =
    """WITH m AS (
      |  SELECT doc_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind
      |  FROM documents),
      |aud AS (
      |  SELECT doc_id,
      |    list_transform(range(0, ns * ch), k ->
      |      CASE WHEN bits = 8
      |        THEN (CAST((doc_id * 31 + (k // ch) * 17 + (k % ch) * 7) % 256 AS DOUBLE) - 128) / 128.0
      |        ELSE CAST(CASE WHEN (doc_id * 131 + (k // ch) * 7919 + (k % ch) * 101) % 65536 >= 32768
      |                  THEN (doc_id * 131 + (k // ch) * 7919 + (k % ch) * 101) % 65536 - 65536
      |                  ELSE (doc_id * 131 + (k // ch) * 7919 + (k % ch) * 101) % 65536 END AS DOUBLE) / 32768.0
      |      END) AS x
      |  FROM (SELECT doc_id,
      |          CAST(1 + doc_id % 2 AS BIGINT) AS ch,
      |          CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 16 END AS bits,
      |          CAST(32 + doc_id % 29 AS BIGINT) AS ns
      |        FROM documents WHERE doc_id % 3 = 1)),
      |audf AS (
      |  SELECT doc_id,
      |    CAST(CAST(sqrt(list_aggregate(list_transform(x, v -> v * v), 'sum') / len(x)) AS REAL) AS DOUBLE) AS rms,
      |    CAST(CAST(list_aggregate(list_transform(x, v -> abs(v)), 'max') AS REAL) AS DOUBLE) AS peak
      |  FROM aud)
      |SELECT m.doc_id AS media_id, m.kind,
      |  CAST(CASE m.kind
      |    WHEN 'image' THEN 1
      |    WHEN 'audio' THEN 32 + m.doc_id % 29
      |    ELSE 10 + m.doc_id % 23 END AS INTEGER) AS n_frames,
      |  round(CASE m.kind
      |    WHEN 'image' THEN CAST(16 + m.doc_id % 17 AS DOUBLE)
      |    WHEN 'audio' THEN audf.rms
      |    ELSE CAST(160 + (m.doc_id % 9) * 16 AS DOUBLE) END, 6) AS f0,
      |  round(CASE m.kind
      |    WHEN 'image' THEN CAST(12 + m.doc_id % 13 AS DOUBLE)
      |    WHEN 'audio' THEN audf.peak
      |    ELSE CAST(120 + (m.doc_id % 7) * 8 AS DOUBLE) END, 6) AS f1
      |FROM m LEFT JOIN audf ON m.doc_id = audf.doc_id
      |ORDER BY media_id""".stripMargin

  /** t-SNE coordinates (reference C3, the viz tail of the pipeline,
    * `main.py:366–368`): stride-sample the embeddings down to a
    * bounded viz set (the distributed half of the contract — the
    * reference samples before sklearn TSNE too), then the exact
    * deterministic t-SNE runs lazily inside one executor task.
    * Rows-only: 300 gradient-descent iterations of float math have no
    * SQL twin — determinism is spec-asserted instead (bit-identical
    * across runs and partitionings, TsneSpec); the S7 PNG sink over
    * these coordinates is spec-gated in TsneSpec as well. */
  private def qTsneCoords(implicit s: SparkSession, dir: String): DataFrame = {
    // count-bounded deterministic sample: the stride is derived from a
    // cheap count, so this keeps ≈500 points at ANY scale factor (a
    // fixed stride keeps a fixed fraction and would outgrow the
    // solver's maxRows guard past sf~0.4)
    val embs = Tables.embeddings(s, dir)
    val sampled = graft.operators.Tsne.boundedSample(embs, "vec_id", target = 500L)
    val coords = graft.operators.Tsne.project(sampled, "vec_id", "embedding",
      perplexity = 5.0, iters = 300)
    coords.select(col("vec_id"), round(col("x"), 6).as("x"),
        round(col("y"), 6).as("y"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------- semantic dedup
  /** SemDeDup (cluster-bounded embedding dedup): exact Lloyd's
    * partition (k=4, 2 rounds — the same fixed-init chain as
    * q_kmeans_exact, so the oracle replays it digit-for-digit), then
    * within each cluster drop every vector with a smaller-id
    * neighbor at rounded cosine ≥ 0.4. The published scale recipe
    * for embedding-space dedup: the quadratic is confined to
    * within-cluster pairs and production k grows with the corpus
    * ([[graft.operators.Similarity.semanticDedup]] scaladoc). τ=0.40
    * sits at the ~99.9th percentile of the fixture's within-cluster
    * similarity (29/500 dropped at sf0.01) — a real decision
    * boundary, not a vacuous one. */
  private val SemTau = 0.4
  private def qDedupSemantic(implicit s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.semanticDedup(embs, "vec_id", "embedding",
        k = 4, iters = 2, tau = SemTau)
      .orderBy(col("vec_id"))

  private val qDedupSemanticSql = {
    def cos(a: String, b: String) =
      s"""(list_aggregate(list_transform(list_zip($a, $b),
         |      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
         |    / (sqrt(list_aggregate(list_transform($a, x -> CAST(x AS DOUBLE) * x), 'sum'))
         |       * sqrt(list_aggregate(list_transform($b, x -> CAST(x AS DOUBLE) * x), 'sum'))))""".stripMargin
    s"""WITH $lloydCtes,
       |lab AS (
       |  SELECT a1.vec_id, a1.cluster, e.embedding
       |  FROM a1 JOIN e ON e.vec_id = a1.vec_id),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM lab a JOIN lab b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE round(${cos("a.embedding", "b.embedding")}, 6) >= $SemTau)
       |SELECT l.vec_id, l.cluster,
       |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
       |FROM lab l LEFT JOIN dropped d ON d.vec_id = l.vec_id
       |ORDER BY l.vec_id""".stripMargin
  }

  /** [[qDedupSemantic]] through the exact-collapse composition
    * ([[graft.operators.Similarity.semanticDedupScalable]]): collapse
    * identical vectors to min-id representatives, cluster the
    * representatives with MULTIPLICITY-weighted exact Lloyd's
    * (bit-identical centroids to the full corpus — decimal·m = m
    * decimal additions), pair-verify reps only, re-expand kept flags.
    * Same output contract as the plain query; the only quadratic term
    * (within-cluster verify) shrinks by K² under K× duplication —
    * the plain contrast is ~1.25 B pairs per cell at sf10 while this
    * path verifies 2 000 reps. Oracle replays the weighted rounds
    * and the rep-level drop digit-for-digit. */
  /** [[qDedupSemantic]] with the within-cluster verify through the
    * unary native cluster-pairs node ([[graft.plans
    * .ClusterPairsNative]]) — one Exchange of the labeled frame where
    * the self-join pays two, pairs streamed from one clustered-sorted
    * pass, the cosine predicate the identical codegen'd Filter above
    * the node. Gated by the SAME oracle as the composed query — the
    * two pair enumerations must agree row-for-row. */
  private def qDedupSemanticNative(implicit s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.semanticDedupNative(embs, "vec_id", "embedding",
        k = 4, iters = 2, tau = SemTau)
      .orderBy(col("vec_id"))

  private def qDedupSemanticScalable(implicit s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.semanticDedupScalable(embs, "vec_id", "embedding",
        k = 4, iters = 2, tau = SemTau)
      .orderBy(col("vec_id"))

  private val qDedupSemanticScalableSql = {
    def cos(a: String, b: String) =
      s"""(list_aggregate(list_transform(list_zip($a, $b),
         |      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
         |    / (sqrt(list_aggregate(list_transform($a, x -> CAST(x AS DOUBLE) * x), 'sum'))
         |       * sqrt(list_aggregate(list_transform($b, x -> CAST(x AS DOUBLE) * x), 'sum'))))""".stripMargin
    def sq(a: String, b: String) =
      s"""list_aggregate(list_transform(list_zip($a, $b),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')""".stripMargin
    def argmin(d: String) =
      s"""SELECT vec_id, cid AS cluster FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dist, cid) AS rk FROM $d) WHERE rk = 1""".stripMargin
    s"""WITH reps AS (
       |  SELECT MIN(vec_id) AS vec_id, COUNT(*) AS mult, embedding
       |  FROM embeddings GROUP BY embedding),
       |e AS (SELECT vec_id, mult, embedding FROM reps),
       |c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       |  FROM e WHERE vec_id < 4),
       |d0 AS (
       |  SELECT e.vec_id, c0.cid, ${sq("e.embedding", "c0.c")} AS dist
       |  FROM e CROSS JOIN c0),
       |a0 AS (${argmin("d0")}),
       |c1 AS (
       |  SELECT cid, list(cd ORDER BY pos) AS c FROM (
       |    SELECT a0.cluster AS cid, le.pos,
       |      CAST(SUM(CAST(CAST(le.v AS DOUBLE) AS DECIMAL(28,10))
       |               * CAST(le.mult AS DECIMAL(8,0))) AS DOUBLE)
       |        / SUM(le.mult) AS cd
       |    FROM (SELECT vec_id, mult, unnest(embedding) AS v,
       |            generate_subscripts(embedding, 1) AS pos FROM e) le
       |    JOIN a0 ON a0.vec_id = le.vec_id
       |    GROUP BY 1, 2)
       |  GROUP BY cid),
       |d1 AS (
       |  SELECT e.vec_id, c1.cid, ${sq("e.embedding", "c1.c")} AS dist
       |  FROM e CROSS JOIN c1),
       |a1 AS (${argmin("d1")}),
       |lab AS (
       |  SELECT a1.vec_id, a1.cluster, e.embedding
       |  FROM a1 JOIN e ON e.vec_id = a1.vec_id),
       |droppedreps AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM lab a JOIN lab b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE round(${cos("a.embedding", "b.embedding")}, 6) >= $SemTau)
       |SELECT m.vec_id, l.cluster,
       |  CASE WHEN m.vec_id = rp.vec_id AND d.vec_id IS NULL
       |    THEN 1 ELSE 0 END AS kept
       |FROM embeddings m
       |JOIN reps rp ON m.embedding = rp.embedding
       |JOIN lab l ON l.vec_id = rp.vec_id
       |LEFT JOIN droppedreps d ON d.vec_id = rp.vec_id
       |ORDER BY m.vec_id""".stripMargin
  }

  override def queries: Seq[Q] = Seq(
    Q("q_kmeans", (s, d) => qKmeans(s, d), None),
    Q("q_dedup_semantic", (s, d) => qDedupSemantic(s, d), Some(qDedupSemanticSql)),
    Q("q_dedup_semantic_native", (s, d) => qDedupSemanticNative(s, d), Some(qDedupSemanticSql)),
    Q("q_dedup_semantic_scalable", (s, d) => qDedupSemanticScalable(s, d), Some(qDedupSemanticScalableSql)),
    Q("q_kmeans_exact", (s, d) => qKmeansExact(s, d), Some(qKmeansExactSql)),
    Q("q_cluster_select_exact", (s, d) => qClusterSelectExact(s, d), Some(qClusterSelectExactSql)),
    Q("q_kmeans_select", (s, d) => qKmeansSelect(s, d), None),
    Q("q_pca_energy", (s, d) => qPca(s, d), None),
    Q("q_pca_exact", (s, d) => qPcaExact(s, d), Some(qPcaExactSql)),
    Q("q_stream_hourly", (s, d) => qStreamHourly(s, d), Some(qStreamHourlySql)),
    Q("q_stream_drift", (s, d) => qStreamDrift(s, d), Some(qStreamDriftSql)),
    Q("q_stream_kmv", (s, d) => qStreamKmv(s, d), Some(qStreamKmvSql)),
    Q("q_sessionize", (s, d) => qSessionize(s, d), Some(qSessionizeSql)),
    Q("q_sessionize_tws", (s, d) => qSessionizeTws(s, d), Some(qSessionizeSql)),
    Q("q_multimodal_features", (s, d) => qMultimodal(s, d), Some(qMultimodalSql)),
    Q("q_image_headers", (s, d) => qImageHeaders(s, d), Some(qImageHeadersSql)),
    Q("q_audio_headers", (s, d) => qAudioHeaders(s, d), Some(qAudioHeadersSql)),
    Q("q_video_headers", (s, d) => qVideoHeaders(s, d), Some(qVideoHeadersSql)),
    Q("q_audio_energy", (s, d) => qAudioEnergy(s, d), Some(qAudioEnergySql)),
    Q("q_image_pixels", (s, d) => qImagePixels(s, d), Some(qImagePixelsSql)),
    Q("q_image_resize", (s, d) => qImageResize(s, d), Some(qImageResizeSql)),
    Q("q_audio_downsample", (s, d) => qAudioDownsample(s, d), Some(qAudioDownsampleSql)),
    Q("q_video_frame_resize", (s, d) => qVideoFrameResize(s, d), Some(qVideoFrameResizeSql)),
    Q("q_image_dedup", (s, d) => qImageDedup(s, d), Some(qImageDedupSql)),
    Q("q_image_dedup_day2", (s, d) => qImageDedupDay2(s, d), Some(qImageDedupSql)),
    Q("q_video_frame_sample", (s, d) => qVideoFrameSample(s, d), Some(qVideoFrameSampleSql)),
    Q("q_video_frames_real", (s, d) => qVideoFramesReal(s, d), Some(qVideoFramesRealSql)),
    Q("q_media_features_real", (s, d) => qMediaFeaturesReal(s, d), Some(qMediaFeaturesRealSql)),
    Q("q_stream_scores", (s, d) => qStreamScores(s, d), Some(qStreamScoresSql)),
    Q("q_tsne_coords", (s, d) => qTsneCoords(s, d), None))
}
