package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the three-family ANN operating-point sweep.
  *
  * LSH: the p-plane bucket is a PREFIX of the (p+2)-plane bucket, so
  * refining planes can only shrink candidate sets and hit counts.
  * IVF: the probe list at depth d is a prefix of depth d+1's, so probing
  * more cells can only grow candidates and hits. PQ has no comparable
  * prefix theorem on its OUTPUT (a wider codebook re-encodes every
  * vector), so only arithmetic consistency is pinned there. */
class AnnRecallEvalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("sweep families are monotone per their prefix property and consistent") {
    import spark.implicits._
    val rows = Similarity.annRecallEval(spark, dir)
      .select("method", "param", "n_exact", "n_hits", "recall_fp", "cost")
      .as[(String, Int, Long, Long, Long, Long)].collect()
    assert(rows.length === 9, "3 methods x 3 operating points")
    val fams = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(fams.keySet === Set("lsh", "ivf", "pq"))
    rows.foreach { case (m, p, ne, nh, fp, c) =>
      assert(ne === 50L, s"$m/$p: 10 benchmark queries x top-5 expected")
      assert(nh >= 0 && nh <= ne)
      assert(fp === nh * 1000000L / ne, s"$m/$p: recall_fp mismatch")
      assert(c >= 0)
    }
    assert(fams("lsh").map(_._2).toSeq === Seq(4, 6, 8))
    assert(fams("ivf").map(_._2).toSeq === Seq(1, 2, 4))
    assert(fams("pq").map(_._2).toSeq === Seq(4, 8, 16))
    // bucket(p+2) equality implies bucket(p) equality: shrink-only
    fams("lsh").sliding(2).foreach { case Array(coarse, fine) =>
      assert(fine._6 <= coarse._6,
        s"lsh candidates grew refining ${coarse._2}->${fine._2} planes")
      assert(fine._4 <= coarse._4,
        s"lsh hits grew refining ${coarse._2}->${fine._2} planes")
    }
    // probing more cells only adds candidates: grow-only
    fams("ivf").sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._6 >= lo._6,
        s"ivf candidates shrank probing ${lo._2}->${hi._2} cells")
      assert(hi._4 >= lo._4,
        s"ivf hits shrank probing ${lo._2}->${hi._2} cells")
    }
  }
}
