package graft.operators

import graft.SparkSpec

/** The nearest-centroid contract IVF assignment, PQ encoding and both
  * Lloyd trainings share, one fixture per row: ties go to the lowest
  * cid, an all-NaN distance row lands there too, a NULL element sends
  * the row to the lowest cid (IVF, trainings) or gives a NULL code
  * (PQ), and a cell that empties drops out while the survivors keep
  * their ids. PQ runs each fixture on two identical subspaces (the
  * vector concatenated with itself), so its books equal the IVF
  * centroids in cid order. */
class AnnKernelSpec extends SparkSpec {
  import spark.implicits._

  private type Book = Seq[(Int, Seq[Double])]

  /** `vecs` get ids 0..n-1. `book` is the centroid table `assign` uses
    * and, in cid order, both PQ books `encode` uses; `assigned` and
    * `codes` are the expected cell and code per id. `trained` is what
    * `k`-means with `iters` rounds must return (None: not trainable,
    * e.g. NaN has no decimal form). */
  private case class Fixture(name: String, vecs: Seq[Seq[java.lang.Double]],
                             book: Book, assigned: Seq[Int],
                             codes: Seq[Option[Int]],
                             k: Int, iters: Int, trained: Option[Book])

  private def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs

  private val fixtures = Seq(
    Fixture("equidistant centroids: the lowest cid wins",
      Seq(v(1.0, 0.0), v(-1.0, 0.0), v(0.0, 1.0), v(0.0, -1.0)),
      book = Seq(3 -> Seq(1.0, 0.0), 5 -> Seq(-1.0, 0.0)),
      assigned = Seq(3, 5, 3, 3),
      codes = Seq(Some(0), Some(1), Some(0), Some(0)),
      // rows 2 and 3 tie between the init cells and join cell 0
      k = 2, iters = 1,
      trained = Some(Seq(0 -> Seq(1.0 / 3, 0.0), 1 -> Seq(-1.0, 0.0)))),
    Fixture("an all-NaN distance row goes to the lowest cid",
      Seq(v(Double.NaN, 0.0), v(-2.0, 0.0)),
      book = Seq(3 -> Seq(1.0, 0.0), 5 -> Seq(-1.0, 0.0)),
      assigned = Seq(3, 5),
      codes = Seq(Some(0), Some(1)),
      k = 2, iters = 1, trained = None),
    Fixture("a cell that empties in round 1: round 2 runs on cids {0, 2}",
      // ids 0 and 1 are identical init vectors: cid 1 loses id 1 on
      // the tie, empties, and the survivors keep ids 0 and 2
      Seq(v(0.0, 0.0), v(0.0, 0.0), v(10.0, 0.0), v(10.0, 1.0), v(6.0, 0.0)),
      book = Seq(0 -> Seq(0.0, 0.0), 2 -> Seq(26.0 / 3, 1.0 / 3)),
      assigned = Seq(0, 0, 2, 2, 2),
      codes = Seq(Some(0), Some(0), Some(1), Some(1), Some(1)),
      k = 3, iters = 2,
      trained = Some(Seq(0 -> Seq(0.0, 0.0), 2 -> Seq(26.0 / 3, 1.0 / 3)))),
    Fixture("a NULL element: lowest cid for IVF and training, NULL code for PQ",
      Seq(v(0.0, 0.0), v(10.0, 0.0), v(null, 10.0)),
      book = Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(10.0, 0.0)),
      assigned = Seq(0, 1, 0),
      codes = Seq(Some(0), Some(1), None),
      // id 2 counts in cell 0's every dim but adds only to dim 1
      k = 2, iters = 1,
      trained = Some(Seq(0 -> Seq(0.0, 5.0), 1 -> Seq(10.0, 0.0)))))

  private def frame(vecs: Seq[Seq[java.lang.Double]]) =
    vecs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("vec_id", "embedding")

  private def doubled(vecs: Seq[Seq[java.lang.Double]]) = vecs.map(x => x ++ x)

  fixtures.foreach { f =>
    test(s"kernel contract: ${f.name}") {
      val cents = f.book.toDF("centroid_id", "c")
      val assigned = IvfIndex.assign(frame(f.vecs), "vec_id", "embedding", cents)
        .select("vid", "centroid_id").as[(Long, Int)].collect().sortBy(_._1)
      assert(assigned.map(_._2).toSeq === f.assigned, "IvfIndex.assign")

      val books = Array.fill(2)(f.book.map(_._2.toArray).toArray)
      val codes = PqIndex.encode(frame(doubled(f.vecs)), "vec_id", "embedding", books)
        .select("vid", "code_0", "code_1").collect().sortBy(_.getLong(0))
        .map(r => (Option(r.get(1)), Option(r.get(2))))
      assert(codes.toSeq === f.codes.map(c => (c, c)), "PqIndex.encode")

      f.trained.foreach { want =>
        val ivf = IvfIndex.train(frame(f.vecs), "vec_id", "embedding", f.k, f.iters)
          .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
        assert(ivf === want, "IvfIndex.train")
        val pq = PqIndex.trainBooks(frame(doubled(f.vecs)), "vec_id", "embedding",
          m = 2, f.k, f.iters)
        assert(pq.map(_.map(_.toSeq).toSeq).toSeq === Seq.fill(2)(want.map(_._2)),
          "PqIndex.trainBooks")
      }
    }
  }
}
