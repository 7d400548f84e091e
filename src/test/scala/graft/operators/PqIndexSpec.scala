package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  // 8 deterministic 8-dim vectors; m=2 subspaces of 4 dims, k=4 centroids
  private val vecs: Seq[(Long, Seq[Float])] = (0L until 8L).map { i =>
    i -> (0 until 8).map(d => ((i * 31 + d * 7) % 11).toFloat - 5f)
  }

  private def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  test("degenerate inputs pinned: a NULL vector element yields NULL codes for its subspace (and NULL IVF cell)") {
    // ADVICE r20: the r20 argmin (array_position(arr, array_min(arr)))
    // SKIPS NULL distances where the pre-r20 least(struct(d2, cid))
    // ranked them first — corrupt vectors now yield NULL codes instead
    // of a fabricated one. This test pins that as the INTENDED
    // semantics for both PQ encode and the IVF literal argmin, so a
    // future refactor cannot silently flip it back.
    val books = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(0.0, 0.0), Array(1.0, 1.0)))
    val rows = Seq(
      (0L, Seq[java.lang.Float](1f, 1f, 0f, 0f)),           // clean
      (1L, Seq[java.lang.Float](null, 1f, 0f, 0f)))         // subspace 0 poisoned
      .toDF("vid", "vec")
    val enc = PqIndex.encode(rows, "vid", "vec", books)
      .select("vid", "code_0", "code_1").collect()
      .map(r => r.getLong(0) -> ((r.get(1), r.get(2)))).toMap
    assert(enc(0L) === ((1, 0)))
    assert(enc(1L)._1 === null) // poisoned subspace: NULL code, no fabrication
    assert(enc(1L)._2 === 0)    // clean subspace still encodes
    // IVF asymmetry pinned AS-IS: nearestLit's array_min over
    // struct(d2, cid) compares the NULL d2 field nulls-first, so a
    // poisoned vector deterministically lands in the LOWEST cid (the
    // pre-r20 least(struct) behavior) — unlike PQ's array-of-doubles
    // min, which skips NULLs. Both are deterministic, degenerate-input-
    // only, and were what the r20 oracle runs verified; this test
    // exists so a refactor cannot silently flip either.
    val cents = Seq((0, Seq(0.0, 0.0, 0.0, 0.0)), (1, Seq(1.0, 1.0, 0.0, 0.0)))
      .toDF("centroid_id", "c")
    val assigned = IvfIndex.assign(rows, "vid", "vec", cents)
      .select("vid", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(assigned(0L) === 1) // (1,1,0,0) is exactly centroid 1
    assert(assigned(1L) === 0) // all-NULL distances: lowest cid wins
  }

  test("codebook vectors encode to their own cid (zero distance, tie-free)") {
    val df = vecs.toDF("vec_id", "embedding")
    val books = PqIndex.codebooks(df, "vec_id", "embedding", m = 2, k = 4)
    assert(books.length === 2 && books.forall(_.length === 4))
    val codes = PqIndex.encode(df, "vec_id", "embedding", books)
      .select("vid", "code_0", "code_1")
      .as[(Long, Int, Int)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    (0 until 4).foreach { cid =>
      assert(codes(cid.toLong) === ((cid, cid)),
        s"codebook vector $cid must quantize to itself")
    }
    // every code in range
    val all = PqIndex.encode(df, "vec_id", "embedding", books)
      .select("code_0", "code_1").as[(Int, Int)].collect()
    assert(all.forall { case (a, b) => a >= 0 && a < 4 && b >= 0 && b < 4 })
  }

  test("trainBooks never quantizes worse than the untrained codebook (k-means SSE)") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val m = 4; val k = 8
    val untrained = PqIndex.codebooks(df, "vec_id", "embedding", m, k)
    val trained = PqIndex.trainBooks(df, "vec_id", "embedding", m, k, iters = 2)
    val vectors = df.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val sub = vectors.head.length / m
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def sse(books: Array[Array[Array[Double]]]): Double =
      vectors.map { v =>
        (0 until m).map { s =>
          val sv = v.slice(s * sub, (s + 1) * sub)
          books(s).map(c => d2(sv, c)).min
        }.sum
      }.sum
    val (su, st) = (sse(untrained), sse(trained))
    assert(st <= su + 1e-9, s"trained SSE $st worse than untrained $su")
    // trained books plug into the same ADC search end to end
    val q = df.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray
    val out = PqIndex.searchAdcWith(df, "vec_id", "embedding", trained,
      q, topK = 5, excludeId = Some(0L)).collect()
    assert(out.length === 5)
    assert(out.map(_.getDouble(1)).toSeq === out.map(_.getDouble(1)).sorted.toSeq)
  }

  test("trained books: ADC recall at least matches untrained on clustered randomized sets") {
    // three deterministic pseudo-random clustered sets: training must
    // never LOSE recall vs the positional first-k codebook, and the
    // clustered structure is exactly where k-means should help
    def recall(top: Seq[Long], exact: Seq[Long]): Double =
      top.count(exact.toSet).toDouble / exact.size

    (1 to 3).foreach { seed =>
      def h(i: Long, d: Int): Double =
        (((i * 2654435761L + d * 40503L + seed * 97L) % 1000 + 1000) % 1000) / 1000.0
      val n = 120; val dim = 8; val m = 2; val k = 4
      val data: Seq[(Long, Seq[Float])] = (0L until n.toLong).map { i =>
        val cluster = (i % 4).toInt
        i -> (0 until dim).map(d =>
          (cluster * 3.0 + (if (d % 2 == cluster % 2) 1.0 else -1.0)
            + 0.2 * h(i, d)).toFloat)
      }
      val df = data.toDF("vec_id", "embedding")
      val q = data(5)._2.toArray
      val qd = q.map(_.toDouble)
      val exact = data.filter(_._1 != 5L).map { case (id, v) =>
        val d2 = v.map(_.toDouble).zip(qd)
          .map { case (x, y) => (x - y) * (x - y) }.sum
        (d2, id)
      }.sorted.take(10).map(_._2)

      val untrained = PqIndex.codebooks(df, "vec_id", "embedding", m, k)
      val trained = PqIndex.trainBooks(df, "vec_id", "embedding", m, k, iters = 2)
      def top(books: Array[Array[Array[Double]]]): Seq[Long] =
        PqIndex.searchAdcWith(df, "vec_id", "embedding", books, q,
          topK = 10, excludeId = Some(5L)).select("vec_id").as[Long].collect().toSeq
      val (ru, rt) = (recall(top(untrained), exact), recall(top(trained), exact))
      assert(rt >= ru,
        s"seed $seed: trained recall $rt below untrained $ru")
    }
  }

  test("buildIndex + searchEncoded equals the direct searchAdc, codes-only on disk") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val books = PqIndex.codebooks(df, "vec_id", "embedding", m = 4, k = 16)
    val q = df.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray
    val dir = java.nio.file.Files.createTempDirectory("pq-index-spec").toString
    PqIndex.buildIndex(df, "vec_id", "embedding", books, s"$dir/codes")
    val codes = spark.read.parquet(s"$dir/codes")
    // the persisted layout is id + m int codes — nothing else
    assert(codes.schema.fieldNames.sorted.toSeq ===
      Seq("code_0", "code_1", "code_2", "code_3", "vid"))
    assert(codes.schema.forall(f => !f.dataType.typeName.contains("array")))
    val indexed = PqIndex.searchEncoded(codes, "vec_id", books, q,
      topK = 10, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    val direct = PqIndex.searchAdcWith(df, "vec_id", "embedding", books, q,
      topK = 10, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    assert(indexed === direct)
  }

  test("searchAdc equals the hand-computed ADC ranking, exact doubles") {
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.map(_.toFloat).toArray // query = vector 0
    val out = PqIndex.searchAdc(df, "vec_id", "embedding", m = 2, k = 4,
        q, topK = 5, excludeId = Some(0L))
      .as[(Long, Double)].collect().toSeq

    // replicate: codebook = sub-slices of vectors 0..3; encode by argmin
    // d2 (vv - 2*dot + cc, ties to lower cid); adc = per-subspace query
    // distance table; approx = left-assoc sum
    val books = Array.tabulate(2, 4) { (s, cid) =>
      vecs(cid)._2.map(_.toDouble).slice(s * 4, s * 4 + 4) }
    val qd = q.map(_.toDouble)
    val adc = Array.tabulate(2) { s =>
      val qs = qd.slice(s * 4, s * 4 + 4).toSeq
      val qq = dotSeq(qs, qs)
      books(s).map(c => qq - 2.0 * dotSeq(qs, c) + dotSeq(c, c))
    }
    val expected = vecs.drop(1).map { case (vid, v) =>
      val vd = v.map(_.toDouble)
      val codes = (0 until 2).map { s =>
        val sv = vd.slice(s * 4, s * 4 + 4).toSeq
        val vv = dotSeq(sv, sv)
        books(s).zipWithIndex
          .map { case (c, cid) => (vv - 2.0 * dotSeq(sv, c) + dotSeq(c, c), cid) }
          .min._2
      }
      vid -> (adc(0)(codes(0)) + adc(1)(codes(1)))
    }.sortBy { case (vid, d) => (d, vid) }.take(5)
    assert(out === expected)
  }

  test("trainBooks: fused partial-collect round == the SQL aggregate round, bit-exact") {
    // r21 pin for the fused Lloyd round: books from the partial-collect
    // route must equal a reference SQL groupBy(sub, cid, dim) round
    // (decimal sums are exact, so equality is to the bit). One round is
    // enough — later rounds consume the first round's literals.
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet").repartition(5)
    val m = 4; val k = 8
    val trained = PqIndex.trainBooks(df, "vec_id", "embedding", m, k, iters = 1)
    // reference: the r20 SQL route for the SAME init (first k by id)
    val init = PqIndex.codebooks(df, "vec_id", "embedding", m, k)
    val dim = df.select("embedding").head().getSeq[Float](0).length
    val sub = dim / m
    val vecD = transform(col("embedding"), x => x.cast("double"))
    val withSubs = df.select(
      Seq(col("vec_id").as("vid")) ++
        (0 until m).map(s => slice(vecD, s * sub + 1, sub).as(s"__sub_$s")): _*)
    val withVv = withSubs.select(
      col("*") +: (0 until m).map(s =>
        graft.plans.DotProduct.dot(col(s"__sub_$s"), col(s"__sub_$s")).as(s"__vv_$s")): _*)
    def argmin(s: Int) =
      least(init(s).zipWithIndex.map { case (c, cid) =>
        struct((col(s"__vv_$s") -
          lit(2.0) * graft.plans.DotProduct.dot(col(s"__sub_$s"), typedLit(c.toSeq)) +
          lit(c.foldLeft(0.0)((a, x) => a + x * x))).as("d2"), lit(cid).as("cid"))
      }: _*).getField("cid")
    val byDim = withVv
      .select(explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), argmin(s).as("cid"),
          col(s"__sub_$s").as("sv"))): _*)).as("e"))
      .select(col("e.sub").as("sub"), col("e.cid").as("cid"),
        posexplode(col("e.sv")).as(Seq("dim", "x")))
      .groupBy("sub", "cid", "dim")
      .agg((sum(col("x").cast("string").cast("decimal(28,12)"))
        .cast("double") / count(lit(1))).as("m"))
      .collect()
    val ref: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      byDim.filter(_.getInt(0) == s).groupBy(_.getInt(1)).toSeq
        .map { case (cid, rs) =>
          (cid, rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
        }.sortBy(_._1).map(_._2).toArray)
    assert(trained.map(_.map(_.toSeq).toSeq).toSeq ===
      ref.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("codebooks one term past the literal bound fail before any job runs") {
    // one subspace of k=11 centroids in d=9091 dims: k*d = MaxLiteralTerms + 1
    val books = Array(Array.fill(11)(Array.fill(9091)(1.0)))
    val group = "pq-literal-bound"
    spark.sparkContext.setJobGroup(group, group)
    val err = try intercept[IllegalArgumentException] {
      PqIndex.encode(Seq((1L, Seq.fill(9091)(0.5f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", books)
    } finally spark.sparkContext.clearJobGroup()
    assert(err.getMessage.contains("k=11") && err.getMessage.contains("d=9091") &&
      err.getMessage.contains(IvfIndex.MaxLiteralTerms.toString), err.getMessage)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
  }
}
