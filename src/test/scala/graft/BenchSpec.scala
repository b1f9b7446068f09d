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
}
