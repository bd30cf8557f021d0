package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.Merged

/** The artifact merge rules of [[Bench.merge]], one test each, and the
  * stdout line format the driver parses. Pure: no Spark session. */
class BenchSpec extends AnyFunSuite {
  private val sf = "/data/sf0.1"
  private val registered = Set("q_a", "q_b", "q_c", "q_d")

  private def artifact(queries: Seq[(String, Double)], note: Option[String] = None,
                       warmed: Seq[String] = Nil, sfDir: String = sf): String =
    Bench.lines(Merged(queries, note, warmed), sfDir, 0.5,
      queries.map { case (k, v) => k -> Some(v) })._1

  private def merge(prior: String, runs: Seq[(String, Option[Double])],
                    warmed: Seq[String] = Nil, note: Option[String] = None) =
    Bench.merge(Some(prior), sf, registered, runs, warmed, note)

  test("the latest capture wins over the prior entry") {
    val m = merge(artifact(Seq("q_a" -> 1.0, "q_b" -> 2.0)), Seq("q_a" -> Some(5.0)))
    assert(m.queries == Seq("q_a" -> 5.0, "q_b" -> 2.0))
  }

  test("a failed query drops its prior entry") {
    val m = merge(artifact(Seq("q_a" -> 1.0, "q_b" -> 2.0)), Seq("q_a" -> None))
    assert(m.queries == Seq("q_b" -> 2.0))
  }

  test("keys no longer registered are dropped") {
    val m = merge(artifact(Seq("q_gone" -> 1.0, "q_b" -> 2.0)), Seq("q_c" -> Some(3.0)))
    assert(m.queries == Seq("q_b" -> 2.0, "q_c" -> 3.0))
  }

  test("a prior artifact from another sf dir is ignored wholesale") {
    val prior = artifact(Seq("q_b" -> 2.0), Some("old note"), Seq("q_b"), sfDir = "/data/sf1")
    assert(merge(prior, Seq("q_a" -> Some(1.0))) == Merged(Seq("q_a" -> 1.0), None, Nil))
    assert(Bench.merge(None, sf, registered, Seq("q_a" -> Some(1.0)), Nil, None) ==
      Merged(Seq("q_a" -> 1.0), None, Nil))
    assert(merge("{not json", Seq("q_a" -> Some(1.0))) == Merged(Seq("q_a" -> 1.0), None, Nil))
  }

  test("+partial merges is added only when a prior entry survives, and only once") {
    val prior = artifact(Seq("q_a" -> 1.0, "q_b" -> 2.0), Some("idle capture"))
    assert(merge(prior, Seq("q_a" -> Some(1.5), "q_b" -> Some(2.5))).note
      .contains("idle capture"))
    val partial = merge(prior, Seq("q_a" -> Some(1.5)))
    assert(partial.note.contains("idle capture; +partial merges"))
    assert(merge(artifact(partial.queries, partial.note), Seq("q_a" -> Some(1.5))).note
      .contains("idle capture; +partial merges"))
    assert(merge(prior, Seq("q_a" -> Some(1.5)), note = Some("new")).note.contains("new"))
  }

  test("warmed is carried forward for surviving entries") {
    val prior = artifact(Seq("q_a" -> 1.0, "q_b" -> 2.0, "q_gone" -> 3.0),
      warmed = Seq("q_b", "q_gone"))
    assert(merge(prior, Seq("q_c" -> Some(1.0)), warmed = Seq("q_c")).warmed ==
      Seq("q_b", "q_c"))
    assert(merge(prior, Seq("q_b" -> None)).warmed.isEmpty)
  }

  test("a note containing quotes and backslashes round-trips") {
    val note = "min of \"two\" runs \\ C:\\tmp\\x \\\" end"
    val prior = artifact(Seq("q_a" -> 1.0), Some(note))
    assert(merge(prior, Seq("q_a" -> Some(2.0))).note.contains(note))
  }

  test("stdout lines keep their fields, order and number format") {
    val m = Merged(Seq("q_a" -> 1.0, "q_b" -> 0.1234), Some("n"), Seq("q_a"))
    val runs = Seq("q_a" -> Some(1.0), "q_b" -> Some(0.1234), "q_c" -> None)
    val (full, compact) = Bench.lines(m, sf, 4.5, runs)
    assert(full == """{"metric":"total","value":1.123,"unit":"sec","load":4.50,""" +
      """"captured":2,"failed":["q_c"],"steal_suspect":true,"capture":"n",""" +
      """"warmed":["q_a"],"queries":{"q_a":1.000,"q_b":0.123},"sf":"/data/sf0.1"}""")
    assert(compact == """{"metric":"total","value":1.123,"unit":"sec","load":4.50,""" +
      """"captured":2,"failed":["q_c"],"steal_suspect":true,"queries_elided":0,""" +
      """"queries":{"q_a":1.000,"q_b":0.123},"sf":"/data/sf0.1"}""")
  }

  test("the compact line keeps the slowest entries inside its budget") {
    val qs = (1 to 300).map(i => f"q_$i%03d" -> i.toDouble)
    val (_, compact) = Bench.lines(Merged(qs, None, Nil), sf, 0.1, qs.map(q => q._1 -> Some(q._2)))
    assert(compact.length <= 1500)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(compact)
    val kept = node.get("queries").size
    assert(node.get("queries_elided").asInt == 300 - kept)
    assert(node.get("queries").has("q_300") && !node.get("queries").has("q_001"))
  }
}
