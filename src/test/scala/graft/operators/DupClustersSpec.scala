package graft.operators

import graft.SparkSpec

class DupClustersSpec extends SparkSpec {
  import spark.implicits._

  test("connected components of a chain and a pair, labelled by their min doc") {
    // components: {1,2,3,4} (chain), {10,11}, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = DupClusters.clustersStar(pairs).as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain converges within diameter rounds") {
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    // 11 rounds = the chain's diameter
    val out = DupClusters.clustersStar(chain, maxIters = 11)
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet === Set(0L))
    assert(out.size === 12)
  }

  /** Reference union-find for the equivalence check. */
  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("matches brute-force union-find on an adversarial mixed graph") {
    // chains, a clique, cross-links, self-loop, reversed edges
    val edges = ((0L until 30L by 3).sliding(2).map(s => (s(1), s(0))) ++  // reversed chain
      Seq((100L, 101L), (101L, 102L), (102L, 100L),                        // triangle
        (27L, 100L),                                                       // bridges chain->triangle
        (200L, 200L),                                                      // self-loop
        (301L, 300L), (303L, 302L), (302L, 301L))).toSeq                   // zigzag chain
    val out = DupClusters.clustersStar(edges.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    // self-loops union nothing but still register the node
    val brute = bruteComponents(edges)
    assert(out === brute)
  }

  test("clustersStar == union-find on randomized graphs and adversarial shapes") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val edges = (1 to n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val out = DupClusters.clustersStar(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(out === bruteComponents(edges), s"trial $trial")
    }
    // adversarial long chain (worst case for plain propagation)
    val chain = (0L until 40L).sliding(2).map(s => (s(1), s(0))).toSeq
    val out = DupClusters.clustersStar(chain.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(out === bruteComponents(chain))
    // hot hub: star with 50 leaves plus a tail
    val hub = (1L to 50L).map(i => (0L, i)) ++ Seq((50L, 60L), (60L, 61L))
    val hubOut = DupClusters.clustersStar(hub.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(hubOut === bruteComponents(hub))
  }

  test("clustersAdaptive: driver fast path == distributed path == union-find") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 60).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val brute = bruteComponents(edges)
    val fast = DupClusters.clustersAdaptive(edges.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(fast === brute)
    // driverEdgeLimit 0 forces the distributed star rounds: same labels
    val dist = DupClusters.clustersAdaptive(edges.toDF("doc_a", "doc_b"),
        driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist === brute)
  }

  test("clustersAdaptive: string doc ids take the distributed path at any size") {
    // the driver union-find is Long-typed; a small STRING-id edge set
    // must not crash on the fast path (a data-size-dependent cliff)
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("z", "z"))
      .toDF("doc_a", "doc_b")
    val out = DupClusters.clustersAdaptive(edges)
      .as[(String, String)].collect().toMap
    assert(out === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "z"))
  }

  test("clustersStar refuses to emit when maxIters exhausts before a star fixpoint") {
    // a 60-node chain cannot flatten to a star forest in one composed
    // round; the guard must throw rather than emit wrong labels
    val chain = (0L until 60L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      DupClusters.clustersStar(chain, maxIters = 1).collect()
    }
    assert(e.getMessage.contains("star"))
    // with enough rounds the same input converges to the right answer
    val ok = DupClusters.clustersStar(chain).as[(Long, Long)].collect().toMap
    assert(ok.values.toSet === Set(0L) && ok.size === 60)
  }

  test("durable=true reliable checkpointing gives identical clusters") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val durable = DupClusters.clustersStar(pairs, durable = true)
      .as[(Long, Long)].collect().toMap
    assert(durable === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // reliable checkpoint files actually landed in the checkpoint dir
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() > 0)
  }
}
