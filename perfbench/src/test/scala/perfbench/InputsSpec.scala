package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {
  private val data = Data.generate(0.001)
  private val hashVertices = Reference.hashGraph(data).flatMap { case (a, b) => Seq(a, b) }.distinct.sorted

  private def rendered(seed: Long): Array[Byte] =
    new Inputs(seed, data).render(5, hashVertices).getBytes("UTF-8")

  test("the same seed gives byte-identical inputs") {
    assert(java.util.Arrays.equals(rendered(7), rendered(7)))
  }

  test("another seed changes the anchors, the BFS source and the edge batches") {
    val (a, b) = (new Inputs(7, data), new Inputs(8, data))
    assert(a.interactiveRound() != b.interactiveRound())
    assert(Seq.fill(5)(a.bfsSource(hashVertices)) != Seq.fill(5)(b.bfsSource(hashVertices)))
    assert(a.nextBatch(50) != b.nextBatch(50))
    assert(!java.util.Arrays.equals(rendered(7), rendered(8)))
  }

  test("edge batches are distinct undirected edges without self-loops, across batches") {
    val in = new Inputs(3, data)
    val edges = Seq.fill(4)(in.nextBatch(200)).flatten
    assert(edges.forall { case (a, b) => a != b })
    val canonical = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }
    assert(canonical.distinct.length == edges.length)
  }

  test("the base data does not depend on the run seed") {
    assert(Data.generate(0.001).documents == data.documents)
  }
}
