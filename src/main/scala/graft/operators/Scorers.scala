package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFns

/** The pluggable model-inference operator framework — the Spark-side
  * shape of the reference's scorer pipelines.
  *
  * Reference provenance: the `fn(example, name) -> example` per-row
  * score map contract (`main.py:277–298`, `README.md:28–39`); one-time
  * model load per pipeline (`score_pipeline_lenth.py:33–34`,
  * `score_pipeline_ifd.py:46–58`); reward scoring
  * (`score_pipeline_rw.py:44–52`); whole-text perplexity + embedding
  * (`get_info.py:69–83`, `main.py:229–231`); conditional span
  * perplexity with per-token loss (`score_pipeline_ifd.py:78–103`);
  * IFD ratio + guards (`score_pipeline_ifd.py:120–219`).
  *
  * Architecture: model-backed scoring is a `mapPartitions` over the
  * record table with ONE backend init per partition — the reference's
  * "driver → GPU per row" boundary becomes "executor → model per
  * partition", which is the only shape that survives 1000 executors.
  * Everything after the model call (ratios, guards, filters) is pure
  * Catalyst columns, so stage 2 stays in whole-stage codegen.
  *
  * The shipped backend is a deterministic proxy (seeded splitmix-style
  * hashing) so the full pipeline runs and is testable without GPUs;
  * real LLM backends drop in behind the same trait — [[HttpBackend]]
  * is the shipped real-transport example (a vLLM/TGI-style HTTP
  * scoring endpoint, spec'd bit-exact against the proxy through the
  * full pipelines in HttpBackendSpec).
  */
object Scorers {

  /** One element of a batched scoring request: `op` is one of
    * ppl / embed / reward / token_loss; `a` and `b` are the op's
    * string arguments (text, or prompt + completion). */
  final case class BatchItem(op: String, a: String, b: String = "")

  /** A scoring model, initialized once per executor partition. */
  trait ModelBackend extends Serializable {
    /** Called once per partition before the first row. */
    def init(): Unit = ()
    /** Whole-text perplexity (reference `get_perplexity_and_embedding_whole_text`). */
    def ppl(text: String): Double
    /** Last-hidden-state embedding (reference emits 4096-dim; proxy emits `dim`). */
    def embed(text: String): Array[Float]
    /** Cross-encoder reward logit for (prompt, completion). */
    def reward(prompt: String, completion: String): Double
    /** Per-token NLL of `completion` conditioned on `prompt` (ragged). */
    def tokenLoss(prompt: String, completion: String): Array[Double]
    /** Batched scoring: every item's result as a double array (ppl and
      * reward are length-1, embed is the embedding, token_loss the
      * ragged loss vector). The default delegates per item — an
      * in-process backend gains nothing from batching; TRANSPORT
      * backends override it to amortize one round-trip across a
      * micro-batch ([[HttpBackend]] posts the whole batch as a single
      * request). */
    def scoreBatch(items: Seq[BatchItem]): Seq[Array[Double]] =
      items.map {
        case BatchItem("ppl", a, _)        => Array(ppl(a))
        case BatchItem("embed", a, _)      => embed(a).map(_.toDouble)
        case BatchItem("reward", a, b)     => Array(reward(a, b))
        case BatchItem("token_loss", a, b) => tokenLoss(a, b)
        case BatchItem(op, _, _) =>
          throw new IllegalArgumentException(s"unknown batch op '$op'")
      }
  }

  /** Deterministic proxy backend: seeded md5 hashing over the text,
    * mapped into plausible score ranges. Stands in for the reference's
    * Llama/Yi/deberta calls in CI and at any scale.
    *
    * The hash is the first 60 bits of `md5("<seed>:<tag>:<payload>")`
    * --- chosen over a custom LCG because both the JVM and SQL engines
    * (DuckDB included) compute identical md5 digests natively, which
    * makes every score this backend emits expressible in the DuckDB
    * oracle (see [[ProxyBackend.h15Sql]]). */
  final class ProxyBackend(seed: Long, dim: Int = 64) extends ModelBackend {
    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")
    /** First 15 hex digits of the seeded md5 -> non-negative 60-bit
      * long, from the digest bytes ([[graft.plans.MinHash.md5Prefix60]];
      * this is the per-token hot path of the IFD pipeline). */
    private def h15(s: String): Long =
      graft.plans.MinHash.md5Prefix60(
        md.digest((seed.toString + ":" + s).getBytes("UTF-8")))
    private def unit(x: Long): Double = x.toDouble / (1L << 60).toDouble

    override def ppl(text: String): Double =
      2.0 + 30.0 * unit(h15("ppl:" + text))
    override def embed(text: String): Array[Float] =
      Array.tabulate(dim)(j =>
        (2.0 * unit(h15("emb:" + j + "#" + text)) - 1.0).toFloat)
    override def reward(prompt: String, completion: String): Double =
      4.0 * unit(h15("rw:" + prompt + "#" + completion)) - 2.0
    override def tokenLoss(prompt: String, completion: String): Array[Double] = {
      // drop empty tokens: "".split gives Array("") — a phantom token
      // that would fabricate a loss for an EMPTY completion and make
      // ifdScore's empty-span null guard (the reference's contract)
      // unreachable. Mirrored in the IFD/gradient oracle SQL.
      val toks = completion.trim.split("\\s+").filter(_.nonEmpty)
      toks.zipWithIndex.map { case (t, i) =>
        0.05 + 4.0 * unit(h15("tl:" + prompt + "#" + t + "#" + i))
      }
    }
  }

  object ProxyBackend {
    /** DuckDB fragment computing h15 of a SQL string expression:
      * first 15 hex digits of the seeded md5, folded into a 60-bit
      * BIGINT. */
    def h15Sql(seed: Long, expr: String): String =
      s"""list_reduce(list_transform(
         |      string_split(substr(md5('$seed:' || $expr), 1, 15), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) AS BIGINT) - 1),
         |      (a, b) -> a * 16 + b)""".stripMargin
    /** unit(): the 60-bit hash scaled into [0, 1). */
    def unitSql(seed: Long, expr: String): String =
      s"(CAST(${h15Sql(seed, expr)} AS DOUBLE) / 1152921504606846976.0)"
  }

  /** Analysis map (reference EP1 step 5): adds `ppl_ins_alone`,
    * `emb_ins_alone` and `score_rw` columns in one pass. */
  def withModelScores(df: DataFrame, textCol: String,
                      make: () => ModelBackend): DataFrame = {
    val schema = df.schema
      .add("ppl_ins_alone", DoubleType)
      .add("emb_ins_alone", ArrayType(FloatType))
      .add("score_rw", DoubleType)
    val idx = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      val m = make(); m.init()
      it.map { r =>
        val t = if (r.isNullAt(idx)) "" else r.getString(idx)
        Row.fromSeq(r.toSeq ++ Seq(m.ppl(t), m.embed(t), m.reward("", t)))
      }
    }(Encoders.row(schema))
  }

  /** [[withModelScores]] driven through the batch seam: each partition
    * micro-batches `batchSize` rows into ONE [[ModelBackend.scoreBatch]]
    * call (3 items per row), which a transport backend turns into one
    * round-trip per micro-batch instead of three per row — per-row
    * round-trips would dominate wall-clock against a real inference
    * server at scale. Output is row-for-row identical to
    * [[withModelScores]] (HttpBackendSpec proves batch == per-row ==
    * proxy, with a request-count assertion). */
  def withModelScoresBatched(df: DataFrame, textCol: String,
                             make: () => ModelBackend,
                             batchSize: Int = 32): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val schema = df.schema
      .add("ppl_ins_alone", DoubleType)
      .add("emb_ins_alone", ArrayType(FloatType))
      .add("score_rw", DoubleType)
    val idx = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      val m = make(); m.init()
      it.grouped(batchSize).flatMap { rows =>
        val items = rows.flatMap { r =>
          val t = if (r.isNullAt(idx)) "" else r.getString(idx)
          Seq(BatchItem("ppl", t), BatchItem("embed", t),
            BatchItem("reward", "", t))
        }
        val out = m.scoreBatch(items)
        rows.iterator.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq ++ Seq(out(3 * i)(0),
            out(3 * i + 1).map(_.toFloat), out(3 * i + 2)(0)))
        }
      }
    }(Encoders.row(schema))
  }

  /** Greedy token packing: split a partition's rows into consecutive
    * micro-batches whose summed `tok` weight stays within `capTokens`
    * (a row heavier than the cap ships alone — rows are atomic), with
    * `capRows` bounding the batch length so a run of near-empty texts
    * cannot snowball into one enormous request. Deterministic in row
    * order — the packing depends on nothing else. */
  private[operators] def packByTokens(rows: Iterator[Row], tok: Row => Long,
                                      capTokens: Long, capRows: Int): Iterator[Seq[Row]] =
    new Iterator[Seq[Row]] {
      private val buf = rows.buffered
      override def hasNext: Boolean = buf.hasNext
      override def next(): Seq[Row] = {
        val b = Seq.newBuilder[Row]
        var total = 0L
        var n = 0
        var open = true
        while (open && buf.hasNext && n < capRows) {
          val t = tok(buf.head)
          if (n == 0 || total + t <= capTokens) {
            b += buf.next(); total += t; n += 1
          } else open = false
        }
        b.result()
      }
    }

  /** [[withModelScoresBatched]] with TOKEN-aware micro-batches: real
    * inference servers are bounded by tokens per request (KV-cache /
    * max-batch-tokens), not rows, so a fixed row count either
    * under-fills requests on short texts or overflows the server on
    * long ones. Rows are packed greedily while the summed subword
    * count ([[graft.plans.ArrayExprUtil.subwordCount]] — the engine's
    * BPE-ish token proxy, same estimator the `q_token_counts` surface
    * exposes) stays within `capTokens`; an oversized single row ships
    * alone; `capRows` bounds request length for near-empty texts. The
    * cap counts each row's text ONCE — the wire carries it three times
    * (ppl, embed, reward items), so size `capTokens` at roughly a third
    * of the server's max-batch-tokens. Output is row-for-row identical
    * to [[withModelScores]]; only the request partitioning changes
    * (HttpBackendSpec: bit-exact + request-count == greedy packing on a
    * skewed-length fixture). */
  def withModelScoresTokenBatched(df: DataFrame, textCol: String,
                                  make: () => ModelBackend,
                                  capTokens: Long = 8192L,
                                  capRows: Int = 256): DataFrame = {
    require(capTokens >= 1, s"capTokens must be >= 1, got $capTokens")
    require(capRows >= 1, s"capRows must be >= 1, got $capRows")
    val schema = df.schema
      .add("ppl_ins_alone", DoubleType)
      .add("emb_ins_alone", ArrayType(FloatType))
      .add("score_rw", DoubleType)
    val idx = df.schema.fieldIndex(textCol)
    def text(r: Row): String = if (r.isNullAt(idx)) "" else r.getString(idx)
    df.mapPartitions { it =>
      val m = make(); m.init()
      val tok = (r: Row) => graft.plans.ArrayExprUtil.subwordCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(text(r)))
      packByTokens(it, tok, capTokens, capRows).flatMap { rows =>
        val items = rows.flatMap { r =>
          val t = text(r)
          Seq(BatchItem("ppl", t), BatchItem("embed", t),
            BatchItem("reward", "", t))
        }
        val out = m.scoreBatch(items)
        rows.iterator.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq ++ Seq(out(3 * i)(0),
            out(3 * i + 1).map(_.toFloat), out(3 * i + 2)(0)))
        }
      }
    }(Encoders.row(schema))
  }

  /** Cherry/IFD analysis map (reference EP1 cherry mode + P6): per-token
    * losses for the answer alone and the answer given the prompt. */
  def withTokenLosses(df: DataFrame, promptCol: String, answerCol: String,
                      make: () => ModelBackend): DataFrame = {
    val schema = df.schema
      .add("loss_alone", ArrayType(DoubleType))
      .add("loss_cond", ArrayType(DoubleType))
    val pIdx = df.schema.fieldIndex(promptCol)
    val aIdx = df.schema.fieldIndex(answerCol)
    df.mapPartitions { it =>
      val m = make(); m.init()
      it.map { r =>
        val p = if (r.isNullAt(pIdx)) "" else r.getString(pIdx)
        val a = if (r.isNullAt(aIdx)) "" else r.getString(aIdx)
        Row.fromSeq(r.toSeq ++ Seq(m.tokenLoss("", a), m.tokenLoss(p, a)))
      }
    }(Encoders.row(schema))
  }

  /** IFD stage 2 (pure columns — `score_pipeline_ifd.py:193–211`):
    * ratio of mean conditional loss to mean unconditional loss, with
    * the reference's guards — empty span rows get a null score, rows
    * with ratio > 1 are dropped. */
  def ifdScore(df: DataFrame, lossAlone: String = "loss_alone",
               lossCond: String = "loss_cond"): DataFrame = {
    def arrMean(c: String) =
      aggregate(col(c), lit(0.0), (a, x) => a + x) / size(col(c))
    df.withColumn("score_ifd",
        when(size(col(lossAlone)) === 0 || size(col(lossCond)) === 0, lit(null))
          .otherwise(arrMean(lossCond) / arrMean(lossAlone)))
      .where(col("score_ifd").isNull || col("score_ifd") <= 1.0)
  }

  /** Full IFD pipeline over an alpaca-shaped table (P6+P7): template
    * the prompt, apply the prompt-overflow guard, score token losses
    * with the backend, derive the guarded ratio.
    *
    * Overflow guard (reference `score_pipeline_ifd.py:196–197`): rows
    * whose tokenized prompt already fills `maxLength` are skipped
    * before any model call — there is no answer span left to score.
    * Token proxy = whitespace tokens, consistent with the backend. */
  def ifdPipeline(alpaca: DataFrame, make: () => ModelBackend,
                  maxLength: Int = 1024): DataFrame = {
    val templated = alpaca
      .withColumn("prompt_to_use",
        TextFns.promptToUse(col("instruction"), col("input")))
      .where(size(TextFns.tokens(col("prompt_to_use"))) < maxLength)
    ifdScore(withTokenLosses(templated, "prompt_to_use", "output", make))
  }

  /** Per-turn IFD over the sharegpt conversation format the reference
    * plans (`data/rawdata/readme.md:14–27`: conversation =
    * array<struct<human, assistant>>): posexplode the turns, build the
    * HISTORY-conditioned prompt per turn (all prior human/assistant
    * exchanges + the current human message — multi-turn conditioning,
    * not just the local turn), then score each assistant span with the
    * same conditional-loss machinery and guards as the single-turn
    * [[ifdPipeline]] (P6+P7). The history is an expression over the
    * conversation array (slice + transform + array_join) — per-row,
    * no window, no shuffle beyond the explode.
    *
    * Returns one row per surviving (id, turn) with `score_ifd`
    * (null for empty spans, ratio ≤ 1 enforced). */
  def sharegptIfdPipeline(conv: DataFrame, idCol: String, convCol: String,
                          make: () => ModelBackend,
                          maxLength: Int = 1024): DataFrame = {
    val turns = conv
      .select(col(idCol), col(convCol),
        posexplode(col(convCol)).as(Seq("turn", "ex")))
      .withColumn("_history",
        array_join(transform(slice(col(convCol), lit(1), col("turn")),
          x => concat(x("human"), lit(" "), x("assistant"))), " "))
      .withColumn("prompt_to_use",
        when(col("turn") === 0, col("ex.human"))
          .otherwise(concat(col("_history"), lit(" "), col("ex.human"))))
      .where(size(TextFns.tokens(col("prompt_to_use"))) < maxLength)
      .select(col(idCol), col("turn"), col("prompt_to_use"),
        col("ex.assistant").as("assistant"))
    ifdScore(withTokenLosses(turns, "prompt_to_use", "assistant", make))
  }

  /** Gradient extraction as long-format rows (reference P8/LESS,
    * `get_info.py:43–68`): per example, pseudo-gradient entries
    * `(param_key, idx, value)` — tensor-as-table, the only layout that
    * scales (a map<string,tensor> column would concentrate whole
    * models in single rows). */
  def gradientRows(df: DataFrame, idCol: String, textCol: String,
                   paramKeys: Seq[String], entriesPerKey: Int,
                   make: () => ModelBackend): DataFrame = {
    val schema = StructType(Seq(
      StructField("example_id", LongType),
      StructField("param_key", StringType),
      StructField("idx", IntegerType),
      StructField("value", DoubleType)))
    val iIdx = df.schema.fieldIndex(idCol)
    val tIdx = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      val m = make(); m.init()
      it.flatMap { r =>
        val id = r.getLong(iIdx)
        val t = if (r.isNullAt(tIdx)) "" else r.getString(tIdx)
        val losses = m.tokenLoss("", t)
        paramKeys.iterator.flatMap { k =>
          (0 until entriesPerKey).iterator.map { j =>
            val v = if (losses.isEmpty) 0.0
              else losses(j % losses.length) * (1.0 / (1 + j)) - 0.5
            Row(id, k, j, v)
          }
        }
      }
    }(Encoders.row(schema))
  }
}
