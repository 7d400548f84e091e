package graft.operators

import graft.{HofReference, SparkSpec}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "a b c d e"),
    (2L, "a b c d e"),          // exact dup of 1
    (3L, "a b c d x"),          // near dup of 1
    (4L, "p q r s t u v")       // unrelated
  ).toDF("doc_id", "text")

  test("exactDupGroups groups identical texts") {
    val out = Dedup.exactDupGroups(docs, "doc_id", "text")
      .where(col("n_copies") === 2).select("canonical_id").as[Long].collect()
    assert(out.toSeq === Seq(1L))
  }

  test("shingles produce n-2 trigrams, short docs produce none") {
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Dedup.shinglesOf(col("toks"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) === Seq("a b c", "b c d"))
    assert(sh(2L) === Seq())
  }

  test("jaccardPairs finds the near-dup pair with correct jaccard") {
    val out = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.1)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(out((1L, 2L)) === 1.0)
    // docs 1,3: trigram sets {abc,bcd,cde} vs {abc,bcd,cdx}: 2 of 4
    assert(math.abs(out((1L, 3L)) - 0.5) < 1e-12)
    assert(!out.contains((1L, 4L)))
  }

  test("minhash LSH candidates include exact and near dups, not unrelated") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text", 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("verifyPairs: exact dups estimate 1e6 ppm; near dups get the true Jaccard") {
    val out = Dedup.verifyPairs(docs, "doc_id", "text", 16, 4)
      .select("doc_a", "doc_b", "est_jaccard_ppm", "exact_jaccard_ppm", "abs_err_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // identical token sets -> identical signatures -> perfect estimate
    assert(out((1L, 2L)) === ((1000000L, 1000000L, 0L)))
    // docs 1,3: tokens {a,b,c,d,e} vs {a,b,c,d,x}: inter 4, union 6
    if (out.contains((1L, 3L))) {
      val (est, exact, err) = out((1L, 3L))
      assert(exact === 4L * 1000000L / 6L)
      assert(err === math.abs(est - exact))
      assert(est >= 0L && est <= 1000000L)
    }
  }

  test("bucket stars carry the same connected components as candidate pairs") {
    val stars = Dedup.minhashBucketStars(docs, "doc_id", "text", 16, 4)
    val viaStars = DupClusters.clustersStar(stars)
      .as[(Long, Long)].collect().toMap
    val viaPairs = DupClusters.clustersStar(
      Dedup.minhashCandidatePairs(docs, "doc_id", "text", 16, 4))
      .as[(Long, Long)].collect().toMap
    assert(viaStars === viaPairs)
  }

  test("maxBucket cap stops a pathological hot band from going quadratic") {
    // 40 identical docs: every band signature collides, one bucket of 40
    val hot = (1L to 40L).map(i => (i, "same text in every document")).toDF("doc_id", "text")
    val uncapped = Dedup.minhashCandidatePairs(hot, "doc_id", "text", 16, 4)
    assert(uncapped.count() === 40L * 39 / 2) // full quadratic pair set
    val capped = Dedup.minhashCandidatePairs(hot, "doc_id", "text", 16, 4,
      maxBucket = 10)
    assert(capped.count() === 0) // hot bucket dropped before the self-join
  }

  test("maxShingleDf cap removes boilerplate shingles but keeps real overlap") {
    // shingle "x y z" appears in all 20 docs (boilerplate); each doc also
    // has a unique tail, and docs 1/2 share their full text
    val rows = (1L to 20L).map { i =>
      val tail = if (i <= 2) "shared tail words here" else s"unique$i tail$i words$i here$i"
      (i, s"x y z $tail")
    }
    val df = rows.toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.5,
      maxShingleDf = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L))) // boilerplate-only overlaps are gone
  }

  test("simhashPairs: pigeonhole-exact recall at hamming <= 3") {
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) === 0L) // exact dup: identical fingerprints
    // exhaustive check: EVERY pair within hamming 3 is found (pigeonhole)
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val expected = (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(out === expected)
  }

  test("native SimhashFold == HOF reference fold (incl. empty / null element / null array)") {
    val rnd = new scala.util.Random(42)
    val arrs: Seq[Seq[java.lang.Long]] =
      Seq(Seq.empty[java.lang.Long],                        // empty -> 0L
        Seq(null.asInstanceOf[java.lang.Long]),             // null elem -> -1/bit
        Seq[java.lang.Long](0L), Seq[java.lang.Long]((1L << 60) - 1)) ++
        (1 to 20).map(n => Seq.tabulate(n)(_ =>
          java.lang.Long.valueOf(rnd.nextLong() >>> 4)))
    val df = arrs.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "hs")
    val both = df.select(col("id"),
        Dedup.simhashOfHashes(col("hs")).as("nat"),
        HofReference.simhashOfHashesHof(col("hs")).as("ref"))
      .collect()
    both.foreach { r => assert(r.get(1) === r.get(2), s"row ${r.get(0)}") }
    // NULL array -> NULL in both forms
    val nr = Seq((0L, null.asInstanceOf[Seq[java.lang.Long]])).toDF("id", "hs")
      .select(Dedup.simhashOfHashes(col("hs")).as("nat"),
        HofReference.simhashOfHashesHof(col("hs")).as("ref")).collect().head
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("simhash is identical for dups and close for near-dups") {
    val h = docs.select(col("doc_id"), Dedup.simhash64("text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) === h(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
  }

  test("winnowPairs surfaces any >= w+k-1-token overlap; disjoint docs never pair") {
    // k=3, w=4 -> guarantee threshold = 6 shared tokens; docs 1 and 2
    // share an 8-token run, doc 3 is disjoint
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, s"one two $run"),
      (2L, s"$run nine ten"),
      (3L, "completely different words with no overlap at all here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, "doc_id", "text",
        k = 3, w = 4, minShared = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // MOSS guarantee
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dupSpans merges overlapping duplicated windows into maximal spans") {
    // docs 1/2 share the 6-token run "a b c d e f" -> with n=3 that is
    // windows at pos 0..3 in doc 1 (gap <= 3 throughout) = ONE span
    // covering tokens 0..5; doc 2 carries the run at offset 2; doc 3 has
    // no 3-gram shared with anyone
    val df = Seq(
      (1L, "a b c d e f x y z"),
      (2L, "p q a b c d e f"),
      (3L, "entirely different tokens here nine")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(df, "doc_id", "text", n = 3)
      .select("doc_id", "span_start", "span_end", "n_windows")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans === Set((1L, 0L, 5L, 4L), (2L, 2L, 7L, 4L)))
  }

  test("dupSpans splits runs separated by more than n undigested tokens") {
    // the shared trigrams sit at pos 0 and pos 7 of doc 1: gap 7 > n=3
    // -> two separate spans, each one window wide
    val df = Seq(
      (1L, "a b c m1 m2 m3 m4 x y z"),
      (2L, "a b c k1 k2 k3 k4 x y z")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(df, "doc_id", "text", n = 3)
      .where(col("doc_id") === 1L)
      .select("span_start", "span_end", "n_windows")
      .as[(Long, Long, Long)].collect().toSet
    assert(spans === Set((0L, 2L, 1L), (7L, 9L, 1L)))
  }

  test("cutSpans removes covered tokens everywhere; fully-cut docs drop out") {
    // docs 1/2 share "a b c" (n=3): doc1 keeps x(0), y(4); doc2 keeps z, w
    // docs 3/4 are identical 3-token docs -> fully covered -> absent
    val df = Seq(
      (1L, "x a b c y"),
      (2L, "z a b c w"),
      (3L, "p q r"),
      (4L, "p q r"),
      (5L, "lonely unshared words")
    ).toDF("doc_id", "text")
    val out = Dedup.cutSpans(df, "doc_id", "text", n = 3)
      .select("doc_id", "n_kept", "kept_md5").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.keySet === Set(1L, 2L, 5L))
    assert(out(1L)._1 === 2L)
    assert(out(2L)._1 === 2L)
    assert(out(5L)._1 === 3L)
    // reassembly is position-ordered: doc1's kept text is "x y"
    val xy = java.security.MessageDigest.getInstance("MD5")
      .digest("x y".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L)._2 === xy)
  }

  test("cutSpans keepCanonical: min-doc occurrence survives, others are cut") {
    val df = Seq(
      (1L, "x a b c y"),   // canonical for "a b c" (min doc_id)
      (2L, "z a b c w"),
      (3L, "p q r"),       // canonical of the identical pair below
      (4L, "p q r")
    ).toDF("doc_id", "text")
    val out = Dedup.cutSpans(df, "doc_id", "text", n = 3, keepCanonical = true)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    // doc1 keeps everything (it IS the canonical holder of "a b c");
    // doc2 loses the 3 shared tokens; doc3 keeps all; doc4 vanishes
    assert(out === Map(1L -> 5L, 2L -> 2L, 3L -> 3L))
  }

  test("dupSpans honors minDocs and within-doc repeats alone do not count") {
    // "r s t" repeats twice inside doc 1 but appears in no other doc;
    // with minDocs=2 (distinct docs) it must NOT surface
    val df = Seq(
      (1L, "r s t u v r s t"),
      (2L, "unrelated content entirely here")
    ).toDF("doc_id", "text")
    assert(Dedup.dupSpans(df, "doc_id", "text", n = 3).count() === 0L)
  }

  test("capByFreq fails LOUDLY when the hot set outgrows the broadcast cap") {
    // 3 keys each above cap=1; with maxHotKeys=2 the limit-probe must
    // refuse before broadcasting, with an actionable message
    val rel = Seq(1L -> "a", 1L -> "b", 2L -> "a", 2L -> "b",
      3L -> "a", 3L -> "b").toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Dedup.capByFreq(rel, Seq("k"), cap = 1, keep = Seq("k", "v"),
        maxHotKeys = 2L)
    }
    assert(e.getMessage.contains("hot set"))
    // under the cap: identical result to the unguarded semantics
    val kept = Dedup.capByFreq(rel, Seq("k"), cap = 2, keep = Seq("k", "v"))
    assert(kept.count() === 6L) // no key exceeds cap=2
    val kept1 = Dedup.capByFreq(rel, Seq("k"), cap = 1, keep = Seq("k", "v"),
      maxHotKeys = 16L)
    assert(kept1.count() === 0L) // every key is hot at cap=1
  }
}
