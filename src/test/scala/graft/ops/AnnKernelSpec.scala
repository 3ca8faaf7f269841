package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The coarse-quantizer kernels agree with each other on random vectors,
  * exact distance ties included: the argmin cell is the first probe, the
  * full probe order ranks every cell by distance with ties to the lower
  * cell, and the argmin distance is the minimum over all cells. This is
  * what makes a vector's own cell its query's first probe in every IVF
  * path. */
class AnnKernelSpec extends AnyFunSuite {

  // reference squared L2, the same left-to-right sum over float-widened
  // coordinates
  private def d2(cv: Array[Double], v: Seq[Float]): Double =
    cv.indices.foldLeft(0.0) { (s, i) => val x = v(i) - cv(i); s + x * x }

  test("argmin, probe order and distances agree; ties go to the lower cell") {
    val rnd = new scala.util.Random(20261019L)
    var ties = 0
    (1 to 500).foreach { trial =>
      val dims = 1 + rnd.nextInt(6)
      // half the trials on a small integer grid, where distinct
      // centroids also tie exactly
      val grid = trial % 2 == 0
      def coord(): Double =
        if (grid) (rnd.nextInt(5) - 2).toDouble else rnd.nextGaussian()
      val base = Array.fill(2 + rnd.nextInt(5))(Array.fill(dims)(coord()))
      // duplicated centroids at shuffled positions: exact ties everywhere
      val cs = rnd.shuffle(
        (base ++ base.take(1 + rnd.nextInt(base.length))).toSeq).toArray
      val v: Seq[Float] = Seq.fill(dims)(coord().toFloat)
      val dist = cs.map(d2(_, v))

      val (cell, d) = Similarity.nearestCellDist(cs)(v)
      assert(cell == Similarity.nearestCells(cs, 1)(v).head)
      assert(cell == Similarity.nearestCell(cs)(v))
      assert(d == dist.min)
      assert(cell == dist.indexOf(dist.min), "ties go to the lower cell")

      val order = Similarity.nearestCells(cs, cs.length)(v)
      assert(order.sorted.toSeq == cs.indices, "each cell ranked once")
      order.zip(order.tail).foreach { case (a, b) =>
        assert(dist(a) < dist(b) || (dist(a) == dist(b) && a < b),
          s"rank order broken at cells $a, $b: ${dist(a)} vs ${dist(b)}")
        if (dist(a) == dist(b)) ties += 1
      }
    }
    assert(ties > 100, s"only $ties exact ties exercised")
  }
}
