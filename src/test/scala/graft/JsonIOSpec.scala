package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.JsonIO
import graft.TestSpark.withTempDir

class JsonIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val arrayJson =
    """[{"instruction": "i1", "input": "", "output": "o1"},
      | {"instruction": "i2", "input": "ctx", "output": "o2"}]""".stripMargin
  private val jsonl =
    """{"instruction": "i1", "input": "", "output": "o1"}
      |{"instruction": "i2", "input": "ctx", "output": "o2"}""".stripMargin

  private def write(d: Path, name: String, content: String): String = {
    val p = d.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  private val bothRows = Seq(("i1", "", "o1"), ("i2", "ctx", "o2"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted

  test("readJsonAuto handles whole-file JSON arrays") {
    withTempDir("graft_io") { d =>
      val df = JsonIO.readAlpaca(spark, write(d, "a.json", arrayJson))
      assert(df.count() == 2)
      assert(df.columns.toSeq == Seq("instruction", "input", "output"))
      // one element per line: the lines also parse as JSONL records, but
      // it still reads as one array
      val perLine = "[\n" + jsonl.replace("\n", ",\n") + "\n]\n"
      assert(rows(JsonIO.readAlpaca(spark, write(d, "lines.json", perLine))) == bothRows)
    }
  }

  test("readJsonAuto falls back to JSONL") {
    withTempDir("graft_io") { d =>
      val df = JsonIO.readAlpaca(spark, write(d, "a.jsonl", jsonl))
      assert(df.count() == 2)
      assert(rows(df) == bothRows)
      // one record: both parses find one row, and the tie reads it as an array
      val one = jsonl.linesIterator.next()
      assert(rows(JsonIO.readAlpaca(spark, write(d, "one.jsonl", one))) == bothRows.take(1))
      // a multi-part sink directory: every part is JSONL
      import spark.implicits._
      val many = (1 to 9).map(i => (s"i$i", if (i % 2 == 0) "ctx" else "", s"o$i"))
      val dir = d.resolve("alpaca").toString
      JsonIO.writeJson(many.toDF("instruction", "input", "output").repartition(3), dir)
      assert(Files.list(Paths.get(dir)).toArray.count(_.toString.endsWith(".json")) == 3)
      assert(rows(JsonIO.readAlpaca(spark, dir)) == many.sorted)
    }
    // a path with a space and a `%` reads like any other
    withTempDir("graft io %20") { d =>
      val odd = d.resolve("my set.jsonl")
      Files.writeString(odd, jsonl)
      assert(rows(JsonIO.readAlpaca(spark, odd.toString)) == bothRows)
    }
  }

  test("sharegpt schema reads nested conversations") {
    val sg =
      """{"conversation_id": "c1", "category": "qa",
        | "conversation": [{"human": "hi", "assistant": "hello"}]}""".stripMargin
      .replace("\n", " ")
    withTempDir("graft_io") { d =>
      val df = JsonIO.readSharegpt(spark, write(d, "s.jsonl", sg))
      assert(df.count() == 1)
      val conv = df.selectExpr("conversation[0].assistant").head().getString(0)
      assert(conv == "hello")
    }
  }

  test("sharegpt multi-turn aggregation runs off a JSONL fixture file") {
    import org.apache.spark.sql.functions._
    val sg = Seq(
      """{"conversation_id":"c1","category":"qa","conversation":[{"human":"aa","assistant":"bbb"},{"human":"cc","assistant":"d"}]}""",
      """{"conversation_id":"c2","category":"chat","conversation":[{"human":"e","assistant":"ff"}]}""",
      """{"conversation_id":"c3","category":"qa","conversation":[{"human":"ggg","assistant":"hh"},{"human":"i","assistant":"jj"},{"human":"k","assistant":"l"}]}"""
    ).mkString("\n")
    withTempDir("graft_io") { d =>
      val df = JsonIO.readSharegpt(spark, write(d, "multi.jsonl", sg))
      val perTurn = df
        .select(col("conversation_id"),
          posexplode(col("conversation")).as(Seq("turn", "ex")))
        .groupBy(col("turn"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("ex.human"))).as("chars_human"))
        .orderBy(col("turn"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      // turn 0: all 3 convs (aa+e+ggg = 6 chars); turn 1: c1+c3; turn 2: c3
      assert(perTurn.toSeq == Seq((0, 3L, 6L), (1, 2L, 3L), (2, 1L, 1L)))
    }
  }

  test("NaN and ±Infinity survive the JSON write→read round trip") {
    // the reference preserves non-finite floats through serialization
    // (tensor2jsonl.py:11–12); the engine's sink+reader must too
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = true)))
    val rows = java.util.Arrays.asList(
      Row(1L, Double.NaN), Row(2L, Double.PositiveInfinity),
      Row(3L, Double.NegativeInfinity), Row(4L, 0.5), Row(5L, null))
    val df = spark.createDataFrame(rows, schema)
    withTempDir("graft_nan") { d =>
      val out = d.resolve("scores").toString
      JsonIO.writeJson(df, out)
      val back = JsonIO.readJsonAuto(spark, out, schema)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .sortBy(_._1).toSeq
      assert(back(0)._2.exists(_.isNaN), s"NaN lost: $back")
      assert(back(1)._2.contains(Double.PositiveInfinity), s"+inf lost: $back")
      assert(back(2)._2.contains(Double.NegativeInfinity), s"-inf lost: $back")
      assert(back(3)._2.contains(0.5) && back(4)._2.isEmpty, s"finite/null: $back")
    }
  }

  test("checkpoint writes once and reuses") {
    withTempDir("graft_ckpt") { d =>
      val out = d.resolve("stage").toString
      import spark.implicits._
      var builds = 0
      def df = { builds += 1; Seq(1, 2, 3).toDF("x") }
      assert(JsonIO.checkpoint(spark, df, out).count() == 3)
      assert(JsonIO.checkpoint(spark, df, out).count() == 3)
      assert(builds == 1) // second call reused the artifact
    }
  }
}
