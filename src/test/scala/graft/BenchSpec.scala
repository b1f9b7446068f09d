package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("queries_part chunks: in order, each within the byte budget") {
    val entries = (1 to 255).map(i => "\"q_" + "x" * (i % 23) + i + "\":" + "%.3f".format(i / 7.0))
    val chunks = Bench.chunkByBytes(entries, budget = 700)
    assert(chunks.flatten == entries)
    assert(chunks.forall(c => c.nonEmpty && c.mkString(",").length <= 700))
    // greedy: the next chunk's first entry would not have fit
    assert(chunks.length > 1)
    chunks.zip(chunks.tail).foreach { case (a, b) =>
      assert((a :+ b.head).mkString(",").length > 700)
    }
    assert(Bench.chunkByBytes(Seq("a" * 900, "b"), budget = 700) == List(List("a" * 900), List("b")))
    assert(Bench.chunkByBytes(Nil, budget = 700) == Nil)
  }

  test("queries_top line: the 25 slowest, slowest first, short enough for the driver") {
    val times = (1 to 255).map(i => s"q_$i" -> ((i * 37) % 255) / 10.0)
    val line = Bench.topLine(times, "\"32\"", "\"/data/sf0.1\"")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "queries_top" && json.get("n").asInt == 25)
    assert(json.get("cpus").asText == "32" && json.get("sf").asText == "/data/sf0.1")
    val qs = json.get("queries")
    val names = Seq.newBuilder[String]
    qs.fieldNames.forEachRemaining(n => names += n)
    val expected = times.sortBy { case (k, v) => (-v, k) }.take(25)
    assert(names.result() == expected.map(_._1))
    assert(expected.forall { case (k, v) => qs.get(k).asDouble == v })
    assert(Bench.topLine(times.take(3), "\"4\"", "\"x\"").contains("\"n\":3"))
    // the 25 longest real query names at multi-second times still fit
    // one ~1 KB stdout line
    val longest = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n)).take(25)
    val worst = Bench.topLine(longest.map(_ -> 999.999), "\"32\"",
      Bench.jkey("/data/graft/testdata/sf0.1"))
    assert(worst.length < 1000, s"${worst.length} bytes")
  }

  test("codegen line: run and timed-region compile counts and seconds") {
    val line = Bench.codegenLine((412L, 9.87654), (3L, 0.0421), "\"4\"", Bench.jkey("/data/sf0.1"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "codegen")
    assert(json.get("cpus").asText == "4" && json.get("sf").asText == "/data/sf0.1")
    assert(json.get("compiles").asLong == 412 && json.get("compile_s").asDouble == 9.877)
    assert(json.get("timed_compiles").asLong == 3 && json.get("timed_compile_s").asDouble == 0.042)
  }
}
