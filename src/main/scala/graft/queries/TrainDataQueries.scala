package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Store, Tables}
import graft.functions.TextFns

/** Round-3 training-data-pipeline operators (BASELINE.json north star,
  * beyond the reference surface): document chunking, sequence packing,
  * benchmark decontamination, Gopher-style rule filtering, pattern
  * redaction, mixture resampling, and quantile bucketing. All pure
  * declarative plans; scale notes inline per query.
  *
  * Determinism: integer arithmetic end-to-end where possible; the two
  * double ratios are single divisions rounded to 1e-6 (bit-identical
  * across engines); "random" sampling is the md5-h15 60-bit hash
  * (oracle-determinism rule: prefer md5 over custom LCGs).
  */
object TrainDataQueries extends QueryModule {

  private def docs(implicit s: SparkSession, dir: String) = Tables.documents(s, dir)

  // -------------------------------------------------- document chunking
  /** RAG-style chunking: fixed 200-char windows at stride 150 (50-char
    * overlap) with per-chunk offsets and content hashes. The explode is
    * a narrow map — no shuffle; at 100 TB chunking parallelizes
    * per-document with output ~1.3× input. */
  private val ChunkLen = 200
  private val ChunkStride = 150

  private def qChunkDocuments(implicit s: SparkSession, dir: String): DataFrame =
    docs.select(col("doc_id"), col("text"),
        explode(sequence(lit(1L), length(col("text")).cast("long"),
          lit(ChunkStride.toLong))).as("off"))
      .withColumn("chunk", expr(s"substring(text, CAST(off AS INT), $ChunkLen)"))
      .select(col("doc_id"),
        ((col("off") - 1L) / ChunkStride).cast("int").as("chunk_idx"),
        col("off"),
        length(col("chunk")).cast("long").as("n_chunk_chars"),
        md5(col("chunk").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val qChunkDocumentsSql =
    s"""SELECT doc_id, CAST((off - 1) // $ChunkStride AS INTEGER) AS chunk_idx, off,
       |  CAST(length(substr(text, CAST(off AS INTEGER), $ChunkLen)) AS BIGINT) AS n_chunk_chars,
       |  md5(substr(text, CAST(off AS INTEGER), $ChunkLen)) AS chunk_md5
       |FROM (SELECT doc_id, text,
       |        unnest(generate_series(1, CAST(length(text) AS BIGINT), $ChunkStride)) AS off
       |      FROM documents)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // -------------------------------------------------- boilerplate strip
  /** CCNet/RefinedWeb-style boilerplate removal at sub-document
    * granularity: each document splits into consecutive
    * [[BpWin]]-token windows (the corpus's "paragraphs"), a window
    * whose exact token sequence appears in more than [[BpMaxDocs]]
    * distinct documents is boilerplate (nav bars, license headers,
    * template prose — here the shared spans of the fixture's
    * duplicate families), and every document is rebuilt from its
    * SURVIVING windows in order. Per-doc report: window census, kept
    * count, and the md5 of the reconstructed clean text — so the gate
    * checks the exact reconstruction without shipping megabytes of
    * text through the compare.
    *
    * Scale posture: windowing is a narrow per-doc map (~n_tokens/W
    * rows); the census is ONE map-side-combined grouped
    * count-distinct; the join back is on the window content (at
    * 100 TB key it by a 128-bit content hash instead — same plan
    * shape, 16-byte shuffle keys); the rebuild is a per-doc
    * sort_array over that doc's own windows — no global sort, no
    * all-pairs anything. The mid-cases are real: near-dup documents
    * lose their shared spans and keep their divergent ones. */
  private val BpWin = 8
  private val BpMaxDocs = 1

  private def qBoilerplateStrip(implicit s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.stripBoilerplate(
        docs.select(col("doc_id"), col("text")), "doc_id", "text",
        win = BpWin, maxDocs = BpMaxDocs)
      .select(col("doc_id"), col("n_windows"), col("n_kept"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))
      .orderBy(col("doc_id"))

  private val qBoilerplateStripSql =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |wins AS (
       |  SELECT doc_id, i AS idx,
       |    array_to_string(list_slice(t, i * $BpWin + 1, i * $BpWin + $BpWin), ' ') AS win
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(0, CAST((len(t) - 1) // $BpWin AS BIGINT))) AS i
       |        FROM toks)),
       |freq AS (SELECT win, COUNT(DISTINCT doc_id) AS n_docs FROM wins GROUP BY win)
       |SELECT w.doc_id, COUNT(*) AS n_windows,
       |  CAST(SUM(CASE WHEN f.n_docs <= $BpMaxDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  md5(coalesce(string_agg(CASE WHEN f.n_docs <= $BpMaxDocs THEN w.win END,
       |    ' ' ORDER BY w.idx), '')) AS clean_md5
       |FROM wins w JOIN freq f ON w.win = f.win
       |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin

  // -------------------------------------------------- sequence packing
  /** Pretraining sequence packing, concat-and-chop: documents are
    * concatenated in (source, doc_id) order and chopped into
    * fixed-512-token context windows; each document reports its first
    * bin, offset within it, and how many bins it spans. Packing is per
    * source shard — the window partitions by source, so at 100 TB each
    * shard packs independently (one narrow cumulative sum, no global
    * order). Integer arithmetic throughout → oracle-exact. */
  private val PackLen = 512L

  private def qPackSequences(implicit s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start_tok div $PackLen").as("first_bin"),
        (col("start_tok") % PackLen).as("offset_in_bin"),
        (expr(s"(start_tok + n_tokens - 1) div $PackLen")
          - expr(s"start_tok div $PackLen") + 1L).as("bins_spanned"))
      .orderBy(col("doc_id"))
  }

  private val qPackSequencesSql =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |  FROM toks)
       |SELECT doc_id, source, n_tokens,
       |  CAST(start_tok // $PackLen AS BIGINT) AS first_bin,
       |  CAST(start_tok % $PackLen AS BIGINT) AS offset_in_bin,
       |  CAST((start_tok + n_tokens - 1) // $PackLen - start_tok // $PackLen + 1 AS BIGINT) AS bins_spanned
       |FROM cum ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- decontamination
  /** Benchmark decontamination (GPT-3-style n-gram collision): flag
    * training documents sharing ≥ 5 distinct 3-gram shingles with the
    * held-out set (source = src0 plays the benchmark role). The eval
    * side is tiny relative to training data, so its shingle set is
    * broadcast — the training corpus never shuffles on the shingle.
    *
    * COLLAPSE-FIRST on the engine side too (r11): a doc's shingle set
    * is a function of its text, so the train⋈eval shingle join is
    * invariant under collapsing docs to text FAMILIES — and the
    * doc-level form pays K² pair multiplicity under K×-duplicated
    * corpora (each train copy matches each eval copy of a shared
    * shingle). The sf100 ladder caught exactly that: the doc-level
    * join ground >20 min at 1000× while every collapse-first sibling
    * ran in seconds; this is the fourth duplicate-blowup family
    * closed with the same algebra (minhash/LSH r9, SimHash + n-gram
    * r10, this one r11 — and its own DuckDB twin, fixed r11 for the
    * same reason on the oracle side). Families join corpus-shaped;
    * doc ids come back through one broadcast join at the end. */
  private val DecontamMinShared = 5

  /** One row per text family: keeper id, eval- and train-member
    * counts. The xxhash64 leads the group key purely as an accelerant
    * (same idiom as [[graft.operators.Dedup.exactDedup]]); text is in
    * the key too, so a hash collision cannot merge families. One
    * linear shuffle of the corpus — the only doc-shaped exchange in
    * the decontamination plans. */
  private def decontamFamilies(implicit s: SparkSession, dir: String): DataFrame =
    docs
      .groupBy(xxhash64(col("text")).as("_h"), col("text"))
      .agg(min(col("doc_id")).as("fam_id"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("n_eval"),
        sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("n_train"))

  /** (family, shingle) view: corpus-shaped regardless of replication. */
  private def famShingles(fams: DataFrame): DataFrame =
    fams.select(col("text"), col("fam_id"), col("n_eval"), col("n_train"),
      explode(TextFns.shinglesDistinct(col("text"), 3)).as("sh"))

  /** Family-level join results → per-train-doc output rows. `shared`
    * carries one row per (train family, shared shingle, eval family);
    * n_shared = |sh(fam) ∩ ∪eval-sh| and n_eval_docs = Σ n_eval over
    * intersecting eval families (every member of an eval family has
    * the identical shingle set) — both exactly the doc-level
    * countDistincts. The qualifying families (contamination is the
    * rare case) broadcast back onto the corpus by text equality. */
  private def decontamExpand(shared0: DataFrame)(
      implicit s: SparkSession, dir: String): DataFrame = {
    // the family-pair rows are corpus-shaped (families × shared
    // shingles × intersecting eval families) and feed two aggregates —
    // cache them so the corpus-wide family aggregation upstream runs
    // once, not once per consumer (released per query by Verify/Bench)
    val shared = graft.core.Caches.track(shared0)
    val nsh = shared.groupBy(col("fam_id"))
      .agg(countDistinct(col("sh")).as("n_shared"))
    val nev = shared.select(col("fam_id"), col("efam"), col("efam_n_eval"))
      .distinct()
      .groupBy(col("fam_id"))
      .agg(sum(col("efam_n_eval")).as("n_eval_docs"))
    // fam_id IS a doc_id (min of its family), so the representative
    // text comes straight off the documents scan — no second run of
    // the corpus-wide family aggregation just to recover ≤|famres| texts
    val famres = nsh.join(nev, "fam_id")
      .where(col("n_shared") >= DecontamMinShared)
      .join(docs.select(col("doc_id").as("fam_id"), col("text")), "fam_id")
    docs.where(col("source") =!= "src0")
      .select(col("doc_id"), col("text"))
      .join(broadcast(famres.drop("fam_id")), "text")
      .select(col("doc_id"), col("n_shared"), col("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  private def qDecontaminate(implicit s: SparkSession, dir: String): DataFrame = {
    val fams = decontamFamilies
    // famShingles rides on the corpus-wide family aggregation (the one
    // doc-shaped shuffle); both join sides read it — materialize once
    val sh = graft.core.Caches.track(famShingles(fams))
    val trainSh = sh.where(col("n_train") > 0L)
      .select(col("fam_id"), col("sh"))
    val evalSh = sh.where(col("n_eval") > 0L)
      .select(col("sh"), col("fam_id").as("efam"), col("n_eval").as("efam_n_eval"))
    decontamExpand(trainSh.join(broadcast(evalSh), "sh"))
  }

  /** COLLAPSE-FIRST replay — exact at any replication factor. The
    * naive doc-level twin (explode both sides, join on shingle) pays
    * pair multiplicity K² under K× duplicated corpora: at sf10 (100×)
    * DuckDB ballooned to 110 GB RSS / 57 GB spill and the gate could
    * only run to sf3. But a doc's shingle set is a FUNCTION of its
    * text, so the join is invariant under collapsing docs to text
    * FAMILIES: n_shared(d) = |sh(d) ∩ ∪eval-sh| depends only on d's
    * family, and n_eval_docs(d) = Σ over intersecting eval families
    * of that family's eval-doc count (every member of an eval family
    * shares the identical shingle set). Join families (corpus-shaped,
    * not replication-shaped), then expand back to doc ids through the
    * documents table. Same algebra as the engine's `_scalable` dedup
    * paths; one SQL gates every SF. */
  private val qDecontaminateSql =
    s"""WITH dfam AS (
       |  SELECT text, MIN(doc_id) AS fam_id,
       |    CAST(COUNT(*) FILTER (WHERE source = 'src0') AS BIGINT) AS n_eval,
       |    CAST(COUNT(*) FILTER (WHERE source <> 'src0') AS BIGINT) AS n_train
       |  FROM documents GROUP BY text),
       |toks AS (
       |  SELECT fam_id, n_eval, n_train,
       |    string_split_regex(trim(text), '\\s+') AS t FROM dfam),
       |sets AS (
       |  SELECT fam_id, n_eval, n_train,
       |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |      ELSE list_transform(range(1, len(t) - 1),
       |             i -> array_to_string(list_slice(t, i, i + 2), ' ')) END) AS shset
       |  FROM toks),
       |ex AS (SELECT fam_id, n_eval, n_train, unnest(shset) AS sh FROM sets),
       |shared AS (
       |  SELECT t.fam_id, t.sh, e.fam_id AS efam, e.n_eval
       |  FROM (SELECT fam_id, sh FROM ex WHERE n_train > 0) t
       |  JOIN (SELECT fam_id, sh, n_eval FROM ex WHERE n_eval > 0) e
       |    ON t.sh = e.sh),
       |nsh AS (SELECT fam_id, COUNT(DISTINCT sh) AS n_shared
       |        FROM shared GROUP BY fam_id),
       |nev AS (SELECT fam_id, CAST(SUM(n_eval) AS BIGINT) AS n_eval_docs
       |        FROM (SELECT DISTINCT fam_id, efam, n_eval FROM shared)
       |        GROUP BY fam_id),
       |famres AS (
       |  SELECT nsh.fam_id, nsh.n_shared, nev.n_eval_docs
       |  FROM nsh JOIN nev ON nsh.fam_id = nev.fam_id
       |  WHERE nsh.n_shared >= $DecontamMinShared)
       |SELECT d.doc_id, f.n_shared, f.n_eval_docs
       |FROM documents d
       |JOIN dfam df ON d.text = df.text
       |JOIN famres f ON df.fam_id = f.fam_id
       |WHERE d.source <> 'src0'
       |ORDER BY d.doc_id""".stripMargin

  /** Decontamination for the regime where the BENCHMARK side outgrows
    * broadcast. [[qDecontaminate]] broadcasts the eval shingle→doc map
    * — right while that map fits an executor (~50–100 bytes/entry).
    * Once the held-out suite is itself large (every eval set ever
    * shipped — billions of shingles), the exact join must shuffle BOTH
    * sides, and the dominant cost becomes shuffling the full training
    * corpus' exploded shingles, ~all of which match nothing. The bloom
    * sketch of the eval shingles (~1.2 bytes/item at 1% fpp) still
    * broadcasts when the hash map can't; probing it map-side
    * (`bloom_might_contain(xxhash64(sh))`, codegen'd inside the scan
    * stage) cuts the train side's shuffle input to matches + 1%
    * BEFORE the exchange. The exact shuffle join over survivors then
    * removes the false positives, so the composition is EXACTLY
    * [[qDecontaminate]] — same oracle SQL gates both. The join is
    * pinned `shuffle_hash` to gate the plan this operator exists for
    * (no silent fallback to broadcast at fixture scale). */
  private def qDecontamBloom(implicit s: SparkSession, dir: String): DataFrame = {
    val fams = decontamFamilies
    // four consumers (bloom sizing count, bloom build, train probe
    // side, eval join side) would each re-run the corpus-wide family
    // aggregation + shingle explode — materialize once
    val sh = graft.core.Caches.track(famShingles(fams))
    val trainSh = sh.where(col("n_train") > 0L)
      .select(col("fam_id"), col("sh"))
    val evalSh = sh.where(col("n_eval") > 0L)
      .select(col("sh"), col("fam_id").as("efam"), col("n_eval").as("efam_n_eval"))
    val evalHashes = evalSh.select(xxhash64(col("sh")).as("h"))
    val nEval = evalHashes.count() // sizing action on the small side
    val bloom = graft.plans.BloomMightContain.build(
      evalHashes, "h", math.max(nEval, 1L), fpp = 0.01)
    val pre = trainSh.where(
      graft.plans.BloomMightContain.probe(xxhash64(col("sh")), bloom))
    decontamExpand(pre.join(evalSh.hint("shuffle_hash"), "sh"))
  }

  // ------------------------------------------- Gopher-style rule filter
  /** Rule-based quality filtering in the Gopher/MassiveText style:
    * word count band, mean word length band, stopword floor, and a
    * repetition ceiling (most-frequent-bigram share). One narrow pass
    * plus one bigram aggregation keyed by doc — no corpus-wide state.
    * Thresholds chosen to split this corpus (~54-word docs). */
  private def qGopherQuality(implicit s: SparkSession, dir: String): DataFrame = {
    val bg = docs.select(col("doc_id"),
      explode(TextFns.shingles(col("text"), 2)).as("b"))
    val rep = bg.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6)
        .as("top_bigram_frac"))
    val base = docs.select(col("doc_id"), col("text"),
        TextFns.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_words"),
        round(length(regexp_replace(col("text"), "\\s+", "")).cast("double")
          / size(col("t")), 6).as("mean_wl"),
        size(filter(col("t"), w => w.isin(TextFns.Stopwords: _*)))
          .cast("long").as("stop_hits"))
    base.join(rep, "doc_id")
      .withColumn("passes",
        (col("n_words").between(20L, 90L) && col("mean_wl").between(4.0, 5.0) &&
          col("stop_hits") >= 2L && col("top_bigram_frac") <= 0.05)
          .cast("int"))
      .orderBy(col("doc_id"))
  }

  private val qGopherQualitySql = {
    val stopList = TextFns.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
       |    ELSE list_transform(range(1, len(t)),
       |           i -> array_to_string(list_slice(t, i, i + 1), ' ')) END) AS b
       |  FROM toks),
       |rep AS (
       |  SELECT doc_id, round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
       |  FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2) GROUP BY doc_id),
       |base AS (
       |  SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS n_words,
       |    round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(t), 6) AS mean_wl,
       |    CAST(len(list_filter(t, w -> w IN ($stopList))) AS BIGINT) AS stop_hits
       |  FROM toks)
       |SELECT base.doc_id, n_words, mean_wl, stop_hits, top_bigram_frac,
       |  CAST(CASE WHEN n_words BETWEEN 20 AND 90 AND mean_wl BETWEEN 4.0 AND 5.0
       |    AND stop_hits >= 2 AND top_bigram_frac <= 0.05 THEN 1 ELSE 0 END AS INTEGER) AS passes
       |FROM base JOIN rep ON base.doc_id = rep.doc_id
       |ORDER BY base.doc_id""".stripMargin
  }

  // --------------------------------------------------- pattern redaction
  /** PII-style pattern redaction: count and mask configured patterns
    * (here a vocabulary mask standing in for email/phone patterns —
    * this corpus has no digits — plus a real digit-run pattern that
    * must count zero). A narrow projection; regex stays inside
    * whole-stage codegen. */
  private val RedactPat = "\\b(key|value)\\b"

  private def qPiiRedact(implicit s: SparkSession, dir: String): DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(RedactPat), lit(0)))
          .cast("long").as("n_masked"),
        size(regexp_extract_all(col("text"), lit("[0-9]{3,}"), lit(0)))
          .cast("long").as("n_digit_runs"),
        md5(regexp_replace(col("text"), RedactPat, "<MASK>").cast("binary"))
          .as("redacted_md5"))
      .orderBy(col("doc_id"))

  private val qPiiRedactSql =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\b(key|value)\b')) AS BIGINT) AS n_masked,
      |  CAST(len(regexp_extract_all(text, '[0-9]{3,}')) AS BIGINT) AS n_digit_runs,
      |  md5(regexp_replace(text, '\b(key|value)\b', '<MASK>', 'g')) AS redacted_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- mixture resampling
  /** Domain-mixture resampling: per-source target rates (1 / 0.5 /
    * 0.25 / 0.1 cycling by source number), applied via the
    * deterministic md5-h15 uniform per doc — the hash-based Bernoulli
    * that keeps resampling reproducible and shuffle-free at any scale
    * (each row decides locally; the only shuffle is the final
    * per-source report). */
  private val MixSeed = 42L

  private def qMixtureResample(implicit s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(
        md5(concat(lit(s"$MixSeed:"), col("doc_id").cast("string")).cast("binary")),
        1, 15), 16, 10).cast("long").cast("double") / lit(1152921504606846976.0)
    val rate = element_at(
      array(lit(1.0), lit(0.5), lit(0.25), lit(0.1)),
      (substring(col("source"), 4, 10).cast("int") % 4) + 1)
    docs.select(col("source"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
        (u < rate).cast("int").as("kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("kept")).as("n_kept"),
        sum(col("n_tokens") * col("kept")).as("tokens_kept"))
      .orderBy(col("source"))
  }

  private val qMixtureResampleSql = {
    val h15 = graft.operators.Scorers.ProxyBackend
      .h15Sql(MixSeed, "CAST(doc_id AS VARCHAR)")
    s"""WITH scored AS (
       |  SELECT source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    CASE WHEN CAST($h15 AS DOUBLE) / 1152921504606846976.0 <
       |      (CASE CAST(substr(source, 4) AS INTEGER) % 4
       |         WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.25 ELSE 0.1 END)
       |      THEN 1 ELSE 0 END AS kept
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_total,
       |  CAST(SUM(kept) AS BIGINT) AS n_kept,
       |  CAST(SUM(n_tokens * kept) AS BIGINT) AS tokens_kept
       |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }

  // ----------------------------------------------- deterministic split
  /** Hash-based train/val/test split (80/10/10) — the canonical
    * reproducible-split op: each row decides its split locally from
    * the seeded md5 of its id (same h15 scheme as mixture resampling),
    * so the assignment is shuffle-free, stable under repartitioning,
    * and identical on every engine. Report = docs/tokens per
    * (source, split). */
  private def qTrainValSplit(implicit s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(
        md5(concat(lit("7:split:"), col("doc_id").cast("string")).cast("binary")),
        1, 15), 16, 10).cast("long").cast("double") / lit(1152921504606846976.0)
    val split = when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
    docs.select(col("source"), split.as("split"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("source"), col("split"))
  }

  private val qTrainValSplitSql = {
    val h15 = graft.operators.Scorers.ProxyBackend
      .h15Sql(7L, "'split:' || CAST(doc_id AS VARCHAR)")
    s"""WITH assigned AS (
       |  SELECT source,
       |    CASE WHEN CAST($h15 AS DOUBLE) / 1152921504606846976.0 < 0.8 THEN 'train'
       |         WHEN CAST($h15 AS DOUBLE) / 1152921504606846976.0 < 0.9 THEN 'val'
       |         ELSE 'test' END AS split,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT source, split, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM assigned GROUP BY source, split
       |ORDER BY source, split""".stripMargin
  }

  // ------------------------------------------------------ TF-IDF top-k
  /** Per-document top-3 TF-IDF terms, rational-IDF variant
    * (tf · N / df — no transcendental log, whose last-ulp could differ
    * across engines; the ranking is the same monotone transform). All
    * inputs are exact integers, so the single double division is
    * bit-deterministic. Scale posture: tf is one grouped count over
    * the exploded tokens; the join strategy for the df side is LEFT TO
    * THE OPTIMIZER — for a curated vocabulary it auto-broadcasts, but
    * raw web-corpus tokens (urls, ids, typos) make distinct terms
    * unbounded, so a forced broadcast would be a driver OOM at 100 TB;
    * the fallback is a shuffle join on the term key, which is the
    * correct shape there. */
  private def qTfidfTopK(implicit s: SparkSession, dir: String): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round((col("tf") * col("n_docs")).cast("double") / col("df"), 6)
          .as("tfidf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val qTfidfTopKSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    round(CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df, 6) AS tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      |SELECT doc_id, rk, term, tfidf FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, term) AS INTEGER) AS rk FROM scored)
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------- ntile buckets
  /** Quantile bucketing: length quartile per language (ntile) — the
    * windowed sibling of the percentile-band filter; deterministic via
    * the unique (n_chars, doc_id) sort.
    *
    * Scale note: ntile needs a total order per language, and language
    * cardinality is tiny — at 100 TB each language funnels through one
    * reducer. The scale path for quantile bucketing is the
    * percentile-band pattern ([[graft.operators.Selection]]): compute
    * the 3 boundary quantiles per language with a grouped aggregate,
    * broadcast them back, assign buckets with a local CASE —
    * shuffle-free and exact enough (percentile or percentile_approx to
    * taste). The ntile form stays as the oracle-exact surface for
    * moderate group sizes. */
  private def qNtile(implicit s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("doc_id"))
  }

  private val qNtileSql =
    """SELECT doc_id, lang, n_chars,
      |  CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS INTEGER) AS quartile
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quantile bucketing the way it runs at 100 TB — the scale-safe
    * sibling the ntile note above prescribes: one grouped aggregate
    * computes the 3 boundary quantiles per language, a broadcast join
    * carries them back, a local CASE assigns the bucket. No per-language
    * total order, no window — two narrow shuffles total (the grouped
    * percentile and the final sort), and the boundary table is
    * languages×3 doubles regardless of corpus size.
    *
    * Oracle-exact: Spark `percentile` and DuckDB `quantile_cont` both
    * linearly interpolate at rank (n−1)·q, and over integer n_chars
    * with quarter fractions every boundary is exact in doubles, so the
    * `<=` bucket comparisons agree bit-for-bit. */
  private def qQuantileBucket(implicit s: SparkSession, dir: String): DataFrame = {
    val bounds = docs.groupBy(col("lang"))
      .agg(percentile(col("n_chars"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
      .select(col("lang"), element_at(col("qs"), 1).as("q1"),
        element_at(col("qs"), 2).as("q2"), element_at(col("qs"), 3).as("q3"))
    docs.join(broadcast(bounds), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        when(col("n_chars") <= col("q1"), 1)
          .when(col("n_chars") <= col("q2"), 2)
          .when(col("n_chars") <= col("q3"), 3)
          .otherwise(4).as("bucket"))
      .orderBy(col("doc_id"))
  }

  private val qQuantileBucketSql =
    """WITH b AS (
      |  SELECT lang,
      |    quantile_cont(n_chars, 0.25) AS q1,
      |    quantile_cont(n_chars, 0.50) AS q2,
      |    quantile_cont(n_chars, 0.75) AS q3
      |  FROM documents GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |  CAST(CASE WHEN d.n_chars <= b.q1 THEN 1
      |            WHEN d.n_chars <= b.q2 THEN 2
      |            WHEN d.n_chars <= b.q3 THEN 3 ELSE 4 END AS INTEGER) AS bucket
      |FROM documents d JOIN b USING (lang)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------- approx percentile (rows-only)
  /** approx_percentile (t-digest-style sketch) — the at-scale variant
    * of q_percentiles; rows-only (sketch estimates are
    * engine-specific, like the HLL query). Emitted as SCALAR p50/p95
    * columns — an array column crashes the driver's rows-only
    * comparator (pandas sort over ndarray cells). */
  private def qApproxPercentile(implicit s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.95)), lit(10000)).as("approx"))
      .select(col("l_returnflag"),
        element_at(col("approx"), 1).as("p50"),
        element_at(col("approx"), 2).as("p95"))
      .orderBy(col("l_returnflag"))

  /** Mixture resampling TO A TARGET distribution — the step real
    * pipelines run before q_mixture_resample's mechanism: given target
    * shares per mixture class (here 40/30/20/10 over source id % 4),
    * DERIVE each class's keep rate instead of being handed one.
    * N* = min_c(count_c / t_c) is the largest corpus obeying the
    * targets exactly with no class oversampled; rate_c is
    * t_c · N* / count_c (the binding class keeps everything). The
    * whole derivation is
    * relational: one grouped count onto ≤4 rows, a 1-row min, rates
    * broadcast back onto the corpus for the usual local hash-Bernoulli
    * keep — no collect, no sort, one corpus-wide shuffle (the count).
    * rate_e6 = floor(rate·1e6): both engines floor identical IEEE
    * doubles (mirrored op order), immune to round()'s cross-engine
    * half-boundary divergence. */
  private def qMixtureTarget(implicit s: SparkSession, dir: String): DataFrame = {
    val cls = (substring(col("source"), 4, 10).cast("int") % 4).as("mix_class")
    val d2 = docs.select(cls, col("doc_id"))
    val tgt = element_at(array(lit(0.4), lit(0.3), lit(0.2), lit(0.1)),
      col("mix_class") + 1)
    val counts = d2.groupBy(col("mix_class"))
      .agg(count(lit(1)).as("n_cls")).withColumn("t", tgt)
    val nstar = counts.agg(
      min(col("n_cls").cast("double") / col("t")).as("nstar"))
    val rates = counts.crossJoin(broadcast(nstar))
      .withColumn("rate",
        least(lit(1.0), col("t") * col("nstar") / col("n_cls").cast("double")))
    val u = conv(substring(
        md5(concat(lit("77:"), col("doc_id").cast("string")).cast("binary")),
        1, 15), 16, 10).cast("long").cast("double") / lit(1152921504606846976.0)
    d2.join(broadcast(rates.select(col("mix_class"), col("rate"))), "mix_class")
      .select(col("mix_class"), (u < col("rate")).cast("int").as("kept"),
        col("rate"))
      .groupBy(col("mix_class"))
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"),
        floor(max(col("rate")) * lit(1e6)).cast("long").as("rate_e6"))
      .orderBy(col("mix_class"))
  }

  private val qMixtureTargetSql = {
    val h15 = graft.operators.Scorers.ProxyBackend
      .h15Sql(77L, "CAST(doc_id AS VARCHAR)")
    s"""WITH cls AS (
       |  SELECT CAST(substr(source, 4) AS INTEGER) % 4 AS mix_class, doc_id
       |  FROM documents),
       |counts AS (
       |  SELECT mix_class, COUNT(*) AS n_cls,
       |    CAST(CASE mix_class WHEN 0 THEN 0.4 WHEN 1 THEN 0.3
       |         WHEN 2 THEN 0.2 ELSE 0.1 END AS DOUBLE) AS t
       |  FROM cls GROUP BY mix_class),
       |ns AS (SELECT MIN(CAST(n_cls AS DOUBLE) / t) AS nstar FROM counts),
       |rates AS (
       |  SELECT mix_class,
       |    least(1.0, t * nstar / CAST(n_cls AS DOUBLE)) AS rate
       |  FROM counts, ns),
       |kept AS (
       |  SELECT c.mix_class, r.rate,
       |    CASE WHEN CAST($h15 AS DOUBLE) / 1152921504606846976.0 < r.rate
       |      THEN 1 ELSE 0 END AS kept
       |  FROM cls c JOIN rates r USING (mix_class))
       |SELECT mix_class, COUNT(*) AS n_total,
       |  CAST(SUM(kept) AS BIGINT) AS n_kept,
       |  CAST(FLOOR(MAX(rate) * 1000000) AS BIGINT) AS rate_e6
       |FROM kept GROUP BY mix_class ORDER BY mix_class""".stripMargin
  }

  // ------------------------------------------- score normalization
  /** Per-source feature scaling of a document score (z-score AND
    * min-max) — the normalize-before-mixing step every multi-corpus
    * pipeline runs (scores from different sources are not comparable
    * raw). Mean/variance use the [[graft.operators.ExactMoments]]
    * decimal machinery — order-independent exact sums, so the group
    * stats are bit-identical across engines and partitionings; the
    * per-row z/minmax are single rounded divisions. Group stats
    * broadcast back (one row per source). */
  private def qScoreNormalize(implicit s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ExactMoments
    val scored = docs.select(col("doc_id"), col("source"),
      col("n_chars").cast("double").as("x"))
    val stats = scored.groupBy(col("source"))
      .agg(ExactMoments(col("x")).as("m"),
        min(col("x")).as("mn"), max(col("x")).as("mx"))
      .select(col("source"), col("m.mean").as("mean"),
        sqrt(col("m.var_samp")).as("sd"), col("mn"), col("mx"))
    scored.join(broadcast(stats), "source")
      .select(col("doc_id"), col("source"),
        round((col("x") - col("mean")) / col("sd"), 6).as("z"),
        round((col("x") - col("mn")) / (col("mx") - col("mn")), 6).as("minmax"))
      .orderBy(col("doc_id"))
  }

  private val qScoreNormalizeSql = {
    val (n, mean, v) = graft.operators.ExactMoments.oracleSqlParts("x")
    s"""WITH scored AS (
       |  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS x FROM documents),
       |stats AS (
       |  SELECT source, $mean AS mean, sqrt($v) AS sd,
       |    MIN(x) AS mn, MAX(x) AS mx
       |  FROM scored GROUP BY source)
       |SELECT s.doc_id, s.source,
       |  round((s.x - st.mean) / st.sd, 6) AS z,
       |  round((s.x - st.mn) / (st.mx - st.mn), 6) AS minmax
       |FROM scored s JOIN stats st ON st.source = s.source
       |ORDER BY s.doc_id""".stripMargin
  }

  // --------------------------------------- learned quality classifier
  /** Distill the Gopher-style rule filter into a learned linear
    * scorer: logistic-regression GD ([[graft.operators.QualityModel]])
    * over band-distance features of the SAME stats the rule reads
    * (|n_words−55|/35, |mean_wl−4.5|/0.5, capped stopword hits,
    * scaled top-bigram fraction), label = the rule's verdict, split
    * train/eval by doc_id % 5. The whole training loop — rational
    * sigmoid, 9-dp decimal gradient sums, 9-dp weight rounding, 24
    * rounds at lr 8 — is replayed weight-for-weight by the DuckDB
    * oracle's chained CTEs, so the eval scores hash-match across
    * engines. Eval accuracy ≈0.81 vs 0.60 majority at sf0.01; the
    * spec asserts ≥0.9 on a separable rule and bit-identical weights
    * across partitionings. */
  private val QcLr = 8.0
  private val QcRounds = 24
  private val QcFeatCols = Seq("x0", "x1", "x2", "x3", "x4")

  private def qcFeatures(implicit s: SparkSession, dir: String): DataFrame = {
    val bg = docs.select(col("doc_id"),
      explode(TextFns.shingles(col("text"), 2)).as("b"))
    val rep = bg.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6).as("tbf"))
    val base = docs.select(col("doc_id"), col("text"),
        TextFns.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_words"),
        round(length(regexp_replace(col("text"), "\\s+", "")).cast("double")
          / size(col("t")), 6).as("mean_wl"),
        size(filter(col("t"), w => w.isin(TextFns.Stopwords: _*)))
          .cast("long").as("stop_hits"))
    base.join(rep, "doc_id")
      .select(col("doc_id"),
        (col("n_words").between(20L, 90L) && col("mean_wl").between(4.0, 5.0) &&
          col("stop_hits") >= 2L && col("tbf") <= 0.05).cast("int").as("y"),
        lit(1.0).as("x0"),
        (abs(col("n_words").cast("double") - lit(55.0)) / lit(35.0)).as("x1"),
        (abs(col("mean_wl") - lit(4.5)) / lit(0.5)).as("x2"),
        (least(col("stop_hits"), lit(4L)).cast("double") / lit(4.0)).as("x3"),
        (col("tbf") / lit(0.05)).as("x4"))
  }

  private def qQualityClassifier(implicit s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityModel
    // the feature pipeline (bigram explode + two doc-keyed shuffles)
    // feeds BOTH the training slice and the eval projection; uncached
    // it evaluated twice per action — materialize once (tracked cache,
    // released between queries)
    val feats = graft.core.Caches.track(qcFeatures)
    val w = QualityModel.trainLogistic(
      feats.where(col("doc_id") % 5 =!= 0), QcFeatCols, "y", QcLr, QcRounds)
    val z = QualityModel.scoreZ(QcFeatCols, w)
    feats.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("y"),
        round(QualityModel.scoreProb(QcFeatCols, w), 6).as("p"),
        (z > lit(0.0)).cast("int").as("pred"))
      .orderBy(col("doc_id"))
  }

  private val qQualityClassifierSql = {
    val stopList = TextFns.Stopwords.map(w => s"'$w'").mkString(", ")
    def zSql(w: String) =
      s"(((($w.a0 * x0 + $w.a1 * x1) + $w.a2 * x2) + $w.a3 * x3) + $w.a4 * x4)"
    val head =
      s"""WITH toks AS (
         |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS t FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
         |    ELSE list_transform(range(1, len(t)),
         |           i -> array_to_string(list_slice(t, i, i + 1), ' ')) END) AS b
         |  FROM toks),
         |rep AS (
         |  SELECT doc_id, round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS tbf
         |  FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2) GROUP BY doc_id),
         |base AS (
         |  SELECT doc_id,
         |    CAST(len(t) AS BIGINT) AS n_words,
         |    round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(t), 6) AS mean_wl,
         |    CAST(len(list_filter(t, w -> w IN ($stopList))) AS BIGINT) AS stop_hits
         |  FROM toks),
         |feat AS MATERIALIZED (
         |  SELECT base.doc_id,
         |    CAST(CASE WHEN n_words BETWEEN 20 AND 90 AND mean_wl BETWEEN 4.0 AND 5.0
         |      AND stop_hits >= 2 AND tbf <= 0.05 THEN 1 ELSE 0 END AS INTEGER) AS y,
         |    1.0 AS x0,
         |    abs(CAST(n_words AS DOUBLE) - 55.0) / 35.0 AS x1,
         |    abs(mean_wl - 4.5) / 0.5 AS x2,
         |    CAST(least(stop_hits, 4) AS DOUBLE) / 4.0 AS x3,
         |    tbf / 0.05 AS x4
         |  FROM base JOIN rep ON base.doc_id = rep.doc_id),
         |tr AS MATERIALIZED (SELECT * FROM feat WHERE doc_id % 5 <> 0),
         |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tr),
         |w0 AS MATERIALIZED (SELECT 0.0 AS a0, 0.0 AS a1, 0.0 AS a2, 0.0 AS a3, 0.0 AS a4)""".stripMargin
    val rounds = (1 to QcRounds).map { r =>
      val pw = s"w${r - 1}"
      val gsums = (0 to 4)
        .map(j => s"SUM(CAST(round(e * x$j, 9) AS DECIMAL(28,9))) AS g$j")
        .mkString(", ")
      val upds = (0 to 4)
        .map(j => s"round(a$j - $QcLr * CAST(g$j AS DOUBLE) / nn.n, 9) AS a$j")
        .mkString(", ")
      s"""g$r AS MATERIALIZED (
         |  SELECT $gsums
         |  FROM (
         |    SELECT (0.5 + z / (2.0 * (1.0 + abs(z)))) - CAST(y AS DOUBLE) AS e,
         |      x0, x1, x2, x3, x4
         |    FROM (SELECT tr.*, ${zSql(pw)} AS z FROM tr CROSS JOIN $pw))),
         |w$r AS MATERIALIZED (
         |  SELECT $upds
         |  FROM $pw CROSS JOIN g$r CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    val wf = s"w$QcRounds"
    s"""$head,
       |$rounds
       |SELECT doc_id, y,
       |  round(0.5 + z / (2.0 * (1.0 + abs(z))), 6) AS p,
       |  CAST(z > 0.0 AS INTEGER) AS pred
       |FROM (
       |  SELECT ev.doc_id, ev.y, ${zSql(wf)} AS z
       |  FROM (SELECT * FROM feat WHERE doc_id % 5 = 0) ev CROSS JOIN $wf)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------- histogram-interpolated percentile
  /** Bounded-state approximate percentile — the hash-exact sibling of
    * [[qApproxPercentile]]'s t-digest (whose centroid layout no other
    * engine can replay): two scans and O(B) state per group, at ANY
    * corpus size, where the exact percentile needs a per-group sort.
    * Pass 1 takes each group's (lo, hi, n); pass 2 counts into B
    * equal-width bins; the p-quantile is linearly interpolated inside
    * the first bin whose cumulative count reaches p·n. Error ≤ one
    * bin width (= range/B) by construction — a deterministic bound,
    * unlike the t-digest's distribution-dependent one. Rank
    * convention caveat (the large-n assumption): this estimate
    * targets rank p·n while the exact type-7 percentile interpolates
    * at rank p·(n−1)+1 — a ≤1-rank offset, so for SMALL groups the
    * exact quantile can sit in an adjacent bin and exceed the
    * one-bin bound by the value gap of one order statistic. At the
    * gated group sizes (thousands to millions of rows per flag) the
    * offset is O(1/n) of a rank and the one-bin bound holds, which
    * is what StatsSpec asserts.
    *
    * Cross-engine determinism: every float step (bin width, bin index
    * before the floor, p·n, the interpolation) is a mirrored IEEE
    * expression over exactly-representable counts, so DuckDB
    * reproduces the estimates bit-for-bit — this is the same contract
    * that makes [[qMixtureTarget]]'s rates gateable. Bin-boundary
    * floors are IDENTICAL doubles in both engines (not merely close),
    * so the floor never straddles.
    *
    * Scale: pass-2's stats side is 3 rows (broadcast); the bin census
    * is one map-side-combined aggregate onto ≤ grp·B cells; the
    * percentile extraction runs on the census, not the corpus. */
  private val HistBins = 1000
  private val HistPs = Seq(0.5, 0.95)

  private def qApproxPercentileHist(implicit s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val x = col("l_extendedprice")
    val stats = li.groupBy(col("l_returnflag"))
      .agg(min(x).as("lo"), max(x).as("hi"), count(lit(1)).as("n"))
      .withColumn("wd", (col("hi") - col("lo")) / lit(HistBins.toDouble))
    val census = li.select(col("l_returnflag"), x)
      .join(broadcast(stats), "l_returnflag")
      .select(col("l_returnflag"),
        least(floor((x - col("lo")) / col("wd")),
          lit((HistBins - 1).toLong)).cast("long").as("bin"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))))
      .withColumn("below", col("cum") - col("cnt"))
    val targets = stats
      .select(col("l_returnflag"), col("lo"), col("wd"), col("n"),
        explode(array(HistPs.map(lit): _*)).as("p"))
      .withColumn("t", col("p") * col("n"))
    targets.join(census, "l_returnflag")
      .where(col("below") < col("t") && col("cum") >= col("t"))
      .select(col("l_returnflag"), col("n"), col("p"),
        (col("lo") + col("wd") *
          (col("bin") + (col("t") - col("below")) / col("cnt"))).as("est"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"),
        max(when(col("p") === 0.5, col("est"))).as("p50_est"),
        max(when(col("p") === 0.95, col("est"))).as("p95_est"))
      .orderBy(col("l_returnflag"))
  }

  private val qApproxPercentileHistSql =
    s"""WITH stats AS (
       |  SELECT l_returnflag, MIN(l_extendedprice) AS lo,
       |    MAX(l_extendedprice) AS hi, COUNT(*) AS n,
       |    (MAX(l_extendedprice) - MIN(l_extendedprice)) / ${HistBins.toDouble} AS wd
       |  FROM lineitem GROUP BY 1),
       |census AS (
       |  SELECT l_returnflag, bin, cnt,
       |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
       |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) - cnt AS below
       |  FROM (
       |    SELECT li.l_returnflag,
       |      CAST(least(floor((li.l_extendedprice - st.lo) / st.wd),
       |        ${HistBins - 1}) AS BIGINT) AS bin,
       |      COUNT(*) AS cnt
       |    FROM lineitem li JOIN stats st USING (l_returnflag)
       |    GROUP BY 1, 2)),
       |targets AS (
       |  SELECT l_returnflag, lo, wd, n, p, p * n AS t
       |  FROM stats, (SELECT unnest([${
          HistPs.map(p => s"CAST($p AS DOUBLE)").mkString(", ")}]) AS p)),
       |hits AS (
       |  SELECT tg.l_returnflag, tg.n, tg.p,
       |    tg.lo + tg.wd * (c.bin + (tg.t - c.below) / c.cnt) AS est
       |  FROM targets tg JOIN census c USING (l_returnflag)
       |  WHERE c.below < tg.t AND c.cum >= tg.t)
       |SELECT l_returnflag, MAX(n) AS n,
       |  MAX(CASE WHEN p = 0.5 THEN est END) AS p50_est,
       |  MAX(CASE WHEN p = 0.95 THEN est END) AS p95_est
       |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- DSIR importance selection
  /** DSIR data selection ([[graft.operators.Dsir]], Xie et al. 2023):
    * treat `src0` documents as the TARGET corpus, everything else as
    * the raw pool, fit 512-bucket hashed-unigram models on each, and
    * keep the 100 raw documents with the highest log-likelihood
    * ratio — the "make the pool look like the target" selection step
    * a pretraining pipeline runs between dedup and tokenization.
    *
    * Determinism: the one transcendental (ln) runs once per BUCKET
    * (512 values), each rounded to 6 dp before the per-document
    * DECIMAL sum — the suite's standard round-then-decimal-sum
    * recipe (see `q_quality_classifier` for the precedent). Scale:
    * the model is 512 cells per pool; weights broadcast; the only
    * corpus-sized shuffle is the doc-id score combine; top-k is
    * TakeOrdered. */
  private val DsirB = 512
  private val DsirTopK = 100

  private def qDsirSelect(implicit s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dsir
    val toks = docs.select(col("doc_id"), col("source"),
      explode(TextFns.tokens(col("text"))).as("word"))
    // both pools live in the one documents table: fit both models in
    // a single scan (importanceWeightsSplit), score in a second
    val w = Dsir.importanceWeightsSplit(toks, col("source") === "src0",
      "word", DsirB)
    Dsir.scoreDocuments(toks.where(col("source") =!= "src0"),
        "doc_id", "word", w, DsirB)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(DsirTopK)
  }

  private val qDsirSelectSql = {
    val bkt = graft.operators.Dsir.bucketSql("word", DsirB)
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents),
       |tb AS (SELECT $bkt AS bkt, COUNT(*) AS ct
       |  FROM toks WHERE source = 'src0' GROUP BY 1),
       |rb AS (SELECT $bkt AS bkt, COUNT(*) AS cr
       |  FROM toks WHERE source <> 'src0' GROUP BY 1),
       |tot AS (SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM tb) AS t_tok,
       |               (SELECT CAST(SUM(cr) AS BIGINT) FROM rb) AS r_tok),
       |w AS (
       |  SELECT coalesce(tb.bkt, rb.bkt) AS bkt,
       |    CAST(round(ln(
       |      ((coalesce(ct, 0) + 1.0) / CAST(t_tok + $DsirB AS DOUBLE)) /
       |      ((coalesce(cr, 0) + 1.0) / CAST(r_tok + $DsirB AS DOUBLE))), 6)
       |      AS DECIMAL(18,6)) AS w
       |  FROM tb FULL JOIN rb ON tb.bkt = rb.bkt CROSS JOIN tot)
       |SELECT doc_id,
       |  round(CAST(SUM(CAST(w.w AS DECIMAL(38,6))) AS DOUBLE), 6) AS score
       |FROM toks JOIN w ON w.bkt = $bkt
       |WHERE source <> 'src0'
       |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT $DsirTopK""".stripMargin
  }

  // --------------------------------------------- corpus drift monitor
  /** Per-source KL divergence against the corpus-wide token
    * distribution ([[graft.operators.Drift]]) — the ingest-monitoring
    * op: a new shard whose language mix drifted shows a KL spike
    * before it joins the training mixture. Reuses DSIR's 512-cell
    * hashed-unigram models, so the whole monitor is ONE corpus scan
    * into |sources|×512 counter cells; every divergence term is
    * decimal-summed (bit-exact across engines). */
  private def qCorpusDriftKl(implicit s: SparkSession, dir: String): DataFrame = {
    val toks = docs.select(col("source"),
      explode(TextFns.tokens(col("text"))).as("word"))
    graft.operators.Drift.klPerGroup(toks, "source", "word", DsirB)
      .orderBy(col("source"))
  }

  private val qCorpusDriftKlSql = {
    val bkt = graft.operators.Dsir.bucketSql("word", DsirB)
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents),
       |cells AS (SELECT source, $bkt AS bkt, COUNT(*) AS c FROM toks GROUP BY 1, 2),
       |grp AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t_grp FROM cells GROUP BY 1),
       |corpus AS (SELECT bkt, CAST(SUM(c) AS BIGINT) AS cq FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cq) AS BIGINT) AS t_all FROM corpus),
       |grid AS (
       |  SELECT g.source, g.t_grp, r.bkt, coalesce(cl.c, 0) AS c
       |  FROM grp g CROSS JOIN (SELECT unnest(range(0, $DsirB)) AS bkt) r
       |  LEFT JOIN cells cl ON cl.source = g.source AND cl.bkt = r.bkt),
       |terms AS (
       |  SELECT source, t_grp,
       |    CAST(c + 1 AS DECIMAL(20,0)) * CAST(round(ln(
       |      ((c + 1.0) / CAST(t_grp + $DsirB AS DOUBLE)) /
       |      ((coalesce(cq, 0) + 1.0) / CAST(t_all + $DsirB AS DOUBLE))), 6)
       |      AS DECIMAL(18,6)) AS term
       |  FROM grid LEFT JOIN corpus USING (bkt) CROSS JOIN tot)
       |SELECT source, CAST(MAX(t_grp) AS BIGINT) AS n_tokens,
       |  CAST(floor(CAST(SUM(term) AS DOUBLE) /
       |    CAST(MAX(t_grp) + $DsirB AS DOUBLE) * 1e9) AS BIGINT) AS kl_e9
       |FROM terms GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------- domain cap
  /** RefinedWeb-style per-domain document cap (Penedo et al. 2023,
    * arXiv:2306.01116 §3.3 — a handful of domains dominate a web
    * crawl; cap each at N docs, chosen uniformly at random): keep the
    * [[DomainCapN]] docs per source with the smallest seeded md5 rank
    * hash — a deterministic uniform permutation, so "random cap" is
    * bit-replayable.
    *
    * Plan: the PLAIN ranking window — deliberately. Spark ≥3.5
    * rewrites `row_number() ≤ k` into a map-side `WindowGroupLimit`
    * (each input partition keeps only its local top-k per group
    * BEFORE the exchange), which IS the two-phase skew refinement:
    * a hot domain never funnels its full row count through one
    * task's sort. Measured against the hand-salted two-phase
    * ([[graft.operators.Selection.topNPerGroupScalable]], ScaleSmoke
    * `topn_{window,salted}_hot`): 0.46 s vs 1.04 s at 10 M rows with
    * 90% of the corpus in one domain — the builtin wins because the
    * salted plan pays a second full exchange for a refinement
    * WindowGroupLimit already did map-side. PlanShapeSpec pins the
    * WindowGroupLimit node so a regression to the funnel shape
    * fails loudly. Output is N×|domains| rows — bounded at every
    * scale factor. */
  private val DomainCapN = 40
  private val DomainCapSeed = 3301L

  private def qDomainCap(implicit s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val w = Window.partitionBy(col("source"))
      .orderBy(Dedup.md5Wid(col("doc_id").cast("string"), DomainCapSeed).asc,
        col("doc_id").asc)
    docs.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= DomainCapN)
      .orderBy(col("source"), col("rn"))
  }

  private val qDomainCapSql = {
    val wid = graft.operators.Dedup.widSql("CAST(doc_id AS VARCHAR)", DomainCapSeed)
    s"""SELECT doc_id, source, rn FROM (
       |  SELECT doc_id, source,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY $wid, doc_id) AS BIGINT) AS rn
       |  FROM documents)
       |WHERE rn <= $DomainCapN ORDER BY source, rn""".stripMargin
  }

  // ------------------------------------- temperature-scaled mixture
  /** Temperature/α-smoothed source mixture (Conneau & Lample 2019
    * §3.1, mT5/XLM-R convention): raw source shares p_s are flattened
    * to q_s ∝ p_s^α (α = [[MixAlpha]]) so head domains shrink and tail
    * domains grow; the per-source keep rate r_s ∝ q_s/p_s = p_s^(α−1),
    * normalized so the most-downweighted source keeps rate 1 — the
    * standard "sample tail languages up" schedule. Selection is the
    * suite's deterministic md5-h15 Bernoulli; output reports per
    * source (n_total, n_kept, rate_e6).
    *
    * Determinism: the one pow() per SOURCE is rounded to 6 dp (the
    * round-the-transcendental recipe); the max-normalizing division
    * and the Bernoulli threshold compare identical doubles; the
    * reported rate is floor-pinned (`rate_e6`). Scale: one grouped
    * count, 20-row broadcast rate table, one hash compare per row. */
  private val MixAlpha = 0.3
  private val MixTempSeed = 78L

  private def qMixtureTemperature(implicit s: SparkSession, dir: String): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("nn"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("w",
        round(pow(col("n").cast("double") / col("nn").cast("double"),
          MixAlpha - 1.0), 6))
    val mx = w.agg(max(col("w")).as("wmax"))
    val rates = w.crossJoin(broadcast(mx))
      .select(col("source"), (col("w") / col("wmax")).as("rate"))
    val u = conv(substring(
        md5(concat(lit(s"$MixTempSeed:"), col("doc_id").cast("string"))
          .cast("binary")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0)
    docs.select(col("source"), col("doc_id"))
      .join(broadcast(rates), "source")
      .select(col("source"), (u < col("rate")).cast("int").as("kept"), col("rate"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"),
        floor(max(col("rate")) * lit(1e6)).cast("long").as("rate_e6"))
      .orderBy(col("source"))
  }

  private val qMixtureTemperatureSql = {
    val h15 = graft.operators.Scorers.ProxyBackend
      .h15Sql(MixTempSeed, "CAST(doc_id AS VARCHAR)")
    s"""WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM counts),
       |w AS (SELECT source, n,
       |        round(pow(CAST(n AS DOUBLE) / nn, ${MixAlpha - 1.0}), 6) AS w
       |      FROM counts, tot),
       |mx AS (SELECT MAX(w) AS wmax FROM w),
       |rates AS (SELECT source, w / wmax AS rate FROM w, mx),
       |kept AS (
       |  SELECT d.source,
       |    CASE WHEN CAST($h15 AS DOUBLE) / 1152921504606846976.0 < r.rate
       |      THEN 1 ELSE 0 END AS kept, r.rate
       |  FROM documents d JOIN rates r USING (source))
       |SELECT source, COUNT(*) AS n_total, CAST(SUM(kept) AS BIGINT) AS n_kept,
       |  CAST(floor(MAX(rate) * 1e6) AS BIGINT) AS rate_e6
       |FROM kept GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------- per-domain token budget
  /** Token-budget sibling of `q_domain_cap`: each source keeps docs in
    * deterministic md5-rank order while its cumulative token count
    * fits [[DomainTokBudget]] — the per-DOMAIN token cap (The
    * Pile/RefinedWeb balance caps are token-, not doc-, denominated).
    * Output is budget-bounded per source at every SF (the cap itself
    * bounds it), so the ladder checks a shrinking selection over a
    * growing corpus. The per-source running sum is a window
    * partitioned by source (the `q_pack_sequences` shape); a
    * pathological domain would take the [[graft.operators.Selection
    * .tokenBudgetSelect]] histogram decomposition per group. */
  private val DomainTokBudget = 4000L
  private val DomainTokSeed = 3307L

  private def qDomainCapTokens(implicit s: SparkSession, dir: String): DataFrame = {
    val rank = graft.operators.Dedup.md5Wid(
      col("doc_id").cast("string"), DomainTokSeed)
    val w = Window.partitionBy(col("source"))
      .orderBy(rank.asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    docs.select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= DomainTokBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  private val qDomainCapTokensSql = {
    val wid = graft.operators.Dedup.widSql("CAST(doc_id AS VARCHAR)", DomainTokSeed)
    s"""SELECT doc_id, source, n_tokens, cum_tokens FROM (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source
       |      ORDER BY $wid, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM (SELECT doc_id, source,
       |          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |        FROM documents))
       |WHERE cum_tokens <= $DomainTokBudget
       |ORDER BY source, cum_tokens""".stripMargin
  }

  // --------------------------------------------- duplicated-span census
  /** Stride-1 duplicated-substring census
    * ([[graft.operators.Dedup.dupSpanCensus]], Lee et al.
    * arXiv:2107.06499 ExactSubstr): per document, how many token
    * positions sit inside a [[DupSpanWin]]-token window that occurs
    * more than once in the corpus. The sub-document complement of
    * `q_boilerplate_strip`'s disjoint windows — stride-1 detects a
    * copied span at EVERY alignment. Output is one row per doc
    * (n_tokens, dup_tokens, dup_frac), with the near-dup families'
    * shared spans partially covered and exact-dup members fully
    * covered. */
  private val DupSpanWin = 5
  private val DupSpanSeed = 3011L

  private def qDupSpanCensus(implicit s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dupSpanCensus(
        docs.select(col("doc_id"), col("text")), "doc_id", "text",
        win = DupSpanWin, seed = DupSpanSeed)
      .orderBy(col("doc_id"))

  private val qDupSpanCensusSql = {
    val w = DupSpanWin
    val wid = graft.operators.Dedup.widSql60(
      s"array_to_string(list_slice(t, CAST(i AS BIGINT), CAST(i + ${w - 1} AS BIGINT)), ' ')",
      DupSpanSeed)
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |docs_n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM base),
       |wins AS (
       |  SELECT doc_id, i AS s, $wid AS wid
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(1, CAST(len(t) - ${w - 1} AS BIGINT))) AS i
       |        FROM base WHERE len(t) >= $w)),
       |census AS (SELECT wid, COUNT(*) AS occ FROM wins GROUP BY 1),
       |dup AS (SELECT wi.doc_id, wi.s FROM wins wi
       |        JOIN census c USING (wid) WHERE c.occ > 1),
       |isl AS (
       |  SELECT doc_id, s,
       |    CASE WHEN s > coalesce(MAX(s + ${w - 1}) OVER (PARTITION BY doc_id
       |      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS new_isl
       |  FROM dup),
       |isl2 AS (SELECT doc_id, s,
       |    SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s) AS isl FROM isl),
       |cov AS (SELECT doc_id, CAST(SUM(ln) AS BIGINT) AS dup_tokens FROM (
       |  SELECT doc_id, isl, MAX(s) - MIN(s) + $w AS ln FROM isl2 GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT d.doc_id, d.n_tokens,
       |  CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  round(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / d.n_tokens, 6) AS dup_frac
       |FROM docs_n d LEFT JOIN cov c USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  /** Collapse-first sibling of `q_dup_span_census`
    * ([[graft.operators.Dedup.dupSpanCensusScalable]]): the census
    * runs over distinct-text families weighted by family size, and
    * members inherit through a digest join — the production path under
    * heavy duplication, gated EQUAL output. The oracle replays the
    * SAME collapse (families are invariant under replication), which
    * is also what keeps the DuckDB twin feasible at the 1000× rung —
    * the straight twin explodes stride-1 windows per COPY. */
  private def qDupSpanScalable(implicit s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dupSpanCensusScalable(
        docs.select(col("doc_id"), col("text")), "doc_id", "text",
        win = DupSpanWin, seed = DupSpanSeed)
      .orderBy(col("doc_id"))

  private val qDupSpanScalableSql = {
    val w = DupSpanWin
    val wid = graft.operators.Dedup.widSql60(
      s"array_to_string(list_slice(t, CAST(i AS BIGINT), CAST(i + ${w - 1} AS BIGINT)), ' ')",
      DupSpanSeed)
    s"""WITH fam AS (
       |  SELECT text, COUNT(*) AS sz FROM documents GROUP BY text),
       |base AS (
       |  SELECT text, sz, string_split_regex(trim(text), '\\s+') AS t FROM fam),
       |wins AS (
       |  SELECT text, sz, i AS s, $wid AS wid
       |  FROM (SELECT text, sz, t,
       |          unnest(generate_series(1, CAST(len(t) - ${w - 1} AS BIGINT))) AS i
       |        FROM base WHERE len(t) >= $w)),
       |census AS (SELECT wid, CAST(SUM(sz) AS BIGINT) AS occ FROM wins GROUP BY 1),
       |dup AS (SELECT wi.text, wi.s FROM wins wi
       |        JOIN census c USING (wid) WHERE c.occ > 1),
       |isl AS (
       |  SELECT text, s,
       |    CASE WHEN s > coalesce(MAX(s + ${w - 1}) OVER (PARTITION BY text
       |      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS new_isl
       |  FROM dup),
       |isl2 AS (SELECT text, s,
       |    SUM(new_isl) OVER (PARTITION BY text ORDER BY s) AS isl FROM isl),
       |cov AS (SELECT text, CAST(SUM(ln) AS BIGINT) AS dup_tokens FROM (
       |  SELECT text, isl, MAX(s) - MIN(s) + $w AS ln FROM isl2 GROUP BY 1, 2)
       |  GROUP BY 1),
       |stats AS (
       |  SELECT b.text, CAST(len(b.t) AS BIGINT) AS n_tokens,
       |    CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |    round(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / len(b.t), 6) AS dup_frac
       |  FROM base b LEFT JOIN cov c USING (text))
       |SELECT d.doc_id, st.n_tokens, st.dup_tokens, st.dup_frac
       |FROM documents d JOIN stats st USING (text)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Day-2 incremental span census
    * ([[graft.operators.Dedup.SpanStore]]): corpus v0 (doc_id % 10 ≠
    * 0) persists its collapse-first census/window/stats store once;
    * the day's delta (% 10 = 0) then updates with DELTA-bounded work —
    * new-family windows, Δocc on touched wids, coverage recomputed
    * only for families holding a 1→≥2 threshold-crossing wid (occ is
    * monotone in an append-only corpus, so nothing else can change).
    * Gated EQUAL to the from-scratch collapse-first census over
    * v0 ∪ delta: the oracle IS `q_dup_span_scalable`'s SQL. */
  private def qDupSpanDay2(implicit s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val all = docs.select(col("doc_id"), col("text"))
    val v0 = all.where(col("doc_id") % 10 =!= 0)
    val delta = all.where(col("doc_id") % 10 === 0)
    val tag = Store.tag("day2", dir)
    Dedup.SpanStore.once(tag) {
      Dedup.SpanStore.write(s, v0, "doc_id", "text",
        win = DupSpanWin, seed = DupSpanSeed, tag = tag)
    }
    Dedup.SpanStore.day2Stats(s, all, delta, "doc_id", "text",
        win = DupSpanWin, seed = DupSpanSeed, tag = tag)
      .orderBy(col("doc_id"))
  }

  /** Day-3 span census against a RE-PERSISTED store
    * ([[graft.operators.Dedup.SpanStore.absorb]]) — the full
    * persist → probe → absorb → probe daily-cron loop, the
    * `q_dedup_store_day2` shape for spans: day 1 (doc_id % 10 ∉
    * {0, 5}) persists generation 1; day 2's delta (% 10 = 5) is
    * ABSORBED into generation 2 on disk (merged fams/wins/census,
    * same bucketed layout — delta-bounded work except the one
    * re-bucketing write); day 3's delta (% 10 = 0) then probes the
    * REGENERATED store paying only its own delta. Gated EQUAL to the
    * from-scratch collapse-first census over the full corpus: the
    * oracle IS `q_dup_span_scalable`'s SQL — day 3 cannot tell the
    * store was built in two generations. */
  private def qDupSpanAbsorb(implicit s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val all = docs.select(col("doc_id"), col("text"))
    val v0 = all.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5)
    val delta1 = all.where(col("doc_id") % 10 === 5)
    val delta2 = all.where(col("doc_id") % 10 === 0)
    val (tag1, tag2) = (Store.tag("absorbg1", dir), Store.tag("absorbg2", dir))
    Dedup.SpanStore.once(tag1) {
      Dedup.SpanStore.write(s, v0, "doc_id", "text",
        win = DupSpanWin, seed = DupSpanSeed, tag = tag1)
    }
    Dedup.SpanStore.once(tag2) {
      Dedup.SpanStore.absorb(s, tag1, tag2, delta1,
        "doc_id", "text", win = DupSpanWin, seed = DupSpanSeed)
    }
    Dedup.SpanStore.day2Stats(s, all, delta2, "doc_id", "text",
        win = DupSpanWin, seed = DupSpanSeed, tag = tag2)
      .orderBy(col("doc_id"))
  }

  /** The TRANSFORM companion of `q_dup_span_census`
    * ([[graft.operators.Dedup.stripDupSpans]], ExactSubstr-cut):
    * every document rebuilt WITHOUT its duplicated spans; the gate
    * compares the md5 of the rebuilt text (exact reconstruction
    * without shipping text through the compare, as
    * `q_boilerplate_strip`). Near-dup families lose their shared
    * spans and keep divergent ones; exact-dup members strip to
    * empty. */
  private def qDupSpanStrip(implicit s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.stripDupSpans(
        docs.select(col("doc_id"), col("text")), "doc_id", "text",
        win = DupSpanWin, seed = DupSpanSeed)
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))
      .orderBy(col("doc_id"))

  private val qDupSpanStripSql = {
    val w = DupSpanWin
    val wid = graft.operators.Dedup.widSql60(
      s"array_to_string(list_slice(t, CAST(i AS BIGINT), CAST(i + ${w - 1} AS BIGINT)), ' ')",
      DupSpanSeed)
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |wins AS (
       |  SELECT doc_id, i AS s, $wid AS wid
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(1, CAST(len(t) - ${w - 1} AS BIGINT))) AS i
       |        FROM base WHERE len(t) >= $w)),
       |census AS (SELECT wid, COUNT(*) AS occ FROM wins GROUP BY 1),
       |dup AS (SELECT wi.doc_id, wi.s FROM wins wi
       |        JOIN census c USING (wid) WHERE c.occ > 1),
       |isl AS (
       |  SELECT doc_id, s,
       |    CASE WHEN s > coalesce(MAX(s + ${w - 1}) OVER (PARTITION BY doc_id
       |      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS new_isl
       |  FROM dup),
       |isl2 AS (SELECT doc_id, s,
       |    SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s) AS isl FROM isl),
       |islands AS (SELECT doc_id, isl, MIN(s) AS s0, MAX(s) + ${w - 1} AS e0
       |            FROM isl2 GROUP BY 1, 2),
       |covered AS (SELECT DISTINCT doc_id, unnest(generate_series(s0, e0)) AS p
       |            FROM islands),
       |pos AS (SELECT doc_id, i AS p, t[i] AS tok
       |        FROM (SELECT doc_id, t,
       |                unnest(generate_series(1, CAST(len(t) AS BIGINT))) AS i
       |              FROM base)),
       |kept AS (SELECT po.doc_id, po.p, po.tok FROM pos po
       |         LEFT JOIN covered c ON c.doc_id = po.doc_id AND c.p = po.p
       |         WHERE c.p IS NULL)
       |SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(COUNT(k.p), 0) AS BIGINT) AS n_kept,
       |  md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '')) AS clean_md5
       |FROM base b LEFT JOIN kept k USING (doc_id)
       |GROUP BY b.doc_id, b.t ORDER BY b.doc_id""".stripMargin
  }

  override def queries: Seq[Q] = Seq(
    Q("q_corpus_drift_kl", (s, d) => qCorpusDriftKl(s, d), Some(qCorpusDriftKlSql)),
    Q("q_dup_span_strip", (s, d) => qDupSpanStrip(s, d), Some(qDupSpanStripSql)),
    Q("q_domain_cap", (s, d) => qDomainCap(s, d), Some(qDomainCapSql)),
    Q("q_domain_cap_tokens", (s, d) => qDomainCapTokens(s, d), Some(qDomainCapTokensSql)),
    Q("q_mixture_temperature", (s, d) => qMixtureTemperature(s, d), Some(qMixtureTemperatureSql)),
    Q("q_dup_span_census", (s, d) => qDupSpanCensus(s, d), Some(qDupSpanCensusSql)),
    Q("q_dup_span_scalable", (s, d) => qDupSpanScalable(s, d), Some(qDupSpanScalableSql)),
    Q("q_dup_span_day2", (s, d) => qDupSpanDay2(s, d), Some(qDupSpanScalableSql)),
    Q("q_dup_span_absorb", (s, d) => qDupSpanAbsorb(s, d), Some(qDupSpanScalableSql)),
    Q("q_dsir_select", (s, d) => qDsirSelect(s, d), Some(qDsirSelectSql)),
    Q("q_approx_percentile_hist",
      (s, d) => qApproxPercentileHist(s, d), Some(qApproxPercentileHistSql)),
    Q("q_quality_classifier", (s, d) => qQualityClassifier(s, d), Some(qQualityClassifierSql)),
    Q("q_score_normalize", (s, d) => qScoreNormalize(s, d), Some(qScoreNormalizeSql)),
    Q("q_mixture_target", (s, d) => qMixtureTarget(s, d), Some(qMixtureTargetSql)),
    Q("q_chunk_documents", (s, d) => qChunkDocuments(s, d), Some(qChunkDocumentsSql)),
    Q("q_pack_sequences", (s, d) => qPackSequences(s, d), Some(qPackSequencesSql)),
    Q("q_decontaminate", (s, d) => qDecontaminate(s, d), Some(qDecontaminateSql)),
    Q("q_decontam_bloom", (s, d) => qDecontamBloom(s, d), Some(qDecontaminateSql)),
    Q("q_gopher_quality", (s, d) => qGopherQuality(s, d), Some(qGopherQualitySql)),
    Q("q_pii_redact", (s, d) => qPiiRedact(s, d), Some(qPiiRedactSql)),
    Q("q_mixture_resample", (s, d) => qMixtureResample(s, d), Some(qMixtureResampleSql)),
    Q("q_ntile", (s, d) => qNtile(s, d), Some(qNtileSql)),
    Q("q_quantile_bucket", (s, d) => qQuantileBucket(s, d), Some(qQuantileBucketSql)),
    Q("q_train_val_split", (s, d) => qTrainValSplit(s, d), Some(qTrainValSplitSql)),
    Q("q_boilerplate_strip", (s, d) => qBoilerplateStrip(s, d), Some(qBoilerplateStripSql)),
    Q("q_tfidf_topk", (s, d) => qTfidfTopK(s, d), Some(qTfidfTopKSql)),
    Q("q_approx_percentile", (s, d) => qApproxPercentile(s, d), None))
}
