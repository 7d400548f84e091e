package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: collapse near-dup edges (minhash bucket
  * stars, jaccard pairs, ...) into connected components, so each dup group
  * gets one canonical id. Output contract: (doc, cluster = min doc of the
  * component), one row per doc drawn from the input pairs; a doc whose
  * only pair is a self-loop is its own cluster.
  *
  * [[clustersAdaptive]] is the entry point every driver query uses: an
  * edge set of up to `driverEdgeLimit` (4M) edges is collected once and
  * labelled by union-find on the driver; a larger one runs the
  * distributed [[clustersStar]] rounds, which also take non-integral
  * doc ids at any size.
  */
object DupClusters {

  /** Alternating large-star/small-star connected components (the
    * MapReduce-and-Beyond formulation): each round is two groupBy+join
    * passes keyed on node id, which (a) bounds rounds ~O(log^2 n) even on
    * adversarial long chains and (b) never materializes a node's whole
    * neighborhood in memory — hot hubs and long chains are safe at
    * web scale. Every round is lineage-truncated: `durable = true`
    * switches `localCheckpoint` (executor-local blocks — fast, but a
    * lost executor kills the job since the truncated lineage can't
    * recompute) to reliable `checkpoint()` into
    * `spark.sparkContext.setCheckpointDir(...)`, the production setting
    * on a multi-node cluster.
    *
    * large-star: every neighbor v > u connects to min(N(u) ∪ u) — tall
    * trees flatten. small-star (on max-oriented edges): every v <= u and
    * u itself connect to the min — stars canonicalize. Fixpoint = every
    * component is a star rooted at its min. */
  def clustersStar(pairs: DataFrame, maxIters: Int = 50,
                   durable: Boolean = false): DataFrame = {
    def ck(df: DataFrame): DataFrame =
      if (durable) df.checkpoint() else df.localCheckpoint()
    val nodes = pairs.select(col("doc_a").as("doc"))
      .unionByName(pairs.select(col("doc_b").as("doc"))).distinct()
    // invariant everywhere below: edges are oriented src > dst (both star
    // ops emit that orientation; largeStar rebuilds adjacency both ways
    // and smallStar re-orients internally, so no per-round normalization
    // pass is needed — one fewer distinct per round than the naive loop)
    var edges = ck(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct())

    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = adj.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
      adj.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient (hi = src side) so each edge is processed at its max end
      val or = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = or.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val vEdges = or.join(mins, "u")
        .select(col("v").as("src"), col("m").as("dst"))
      val uEdges = mins.select(col("u").as("src"), col("m").as("dst"))
      vEdges.unionByName(uEdges)
        .where(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct()
    }
    def signature(e: DataFrame): (Long, Long) = {
      // xor of per-edge hashes: order-free like sum, but immune to the
      // Long overflow that sum(src * k + dst) hits with 64-bit hash-
      // derived doc ids (ANSI mode would throw ArithmeticException; the
      // edge set is distinct, so set-xor is a sound signature)
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h")).head
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(edges)
    var iter = 0
    var done = sig._1 == 0
    while (!done && iter < maxIters) {
      // small-star FIRST: LSH bucket-star inputs are already stars, on
      // which large-star is an identity — leading with it wastes a full
      // shuffle round; small-star immediately merges stars that share a
      // member. The composed fixpoint is the same (both ops preserve
      // components; signature-stable round => both ops were identities).
      edges = ck(largeStar(smallStar(edges)))
      val s2 = signature(edges)
      done = s2 == sig
      sig = s2
      iter += 1
    }
    // ALWAYS validate before emitting — not only when maxIters ran out:
    // a signature COLLISION (same count + xor-hash for a different edge
    // set) sets done=true with a non-fixpoint edge set, and guarding
    // only the !done path would skip the check in exactly that case.
    // Two tiny aggregates over the final (contracted) edges — cheap.
    locally {
      val members = edges.select(col("src").as("doc"))
      val multiRoot = members.groupBy("doc").agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
      val chained = members
        .join(edges.select(col("dst").as("doc")), Seq("doc"), "left_semi")
      if (!multiRoot.isEmpty || !chained.isEmpty)
        throw new IllegalStateException(
          s"clustersStar: edge set is not a star forest after $iter " +
            "rounds (unconverged or signature collision); raise maxIters " +
            "(refusing to emit wrong clusters)")
    }
    // fixpoint edges form stars (member = src > root = dst = component min)
    val roots = edges.select(col("src").as("doc"), col("dst").as("cluster"))
    nodes.join(roots, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("cluster"), col("doc")).as("cluster"))
  }

  /** Adaptive clustering: size-based plan choice, the same idea as
    * Spark's broadcast-join threshold. The iterative rounds exist for
    * edge sets that cannot sit on one machine; an edge set that FITS the
    * driver gets the identical labels from one collect + union-find +
    * parallelize — no per-round job constants (a tiny blocked pair graph
    * otherwise pays ~4 scheduling rounds for microseconds of work, see
    * BASELINE q_semantic_clusters). One count() decides; above the
    * threshold the distributed star rounds run unchanged. Equivalence of
    * the two paths is spec-pinned (DupClustersSpec union-find tests). */
  def clustersAdaptive(pairs: DataFrame, driverEdgeLimit: Long = 4000000L,
                       maxIters: Int = 50,
                       durable: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // the driver union-find below is Long-typed (min-root labels need an
    // ordering); non-integral ids (string/UUID doc keys) take the
    // distributed path at ANY size — otherwise the operator would crash
    // only when the edge set happens to be small (a data-dependent cliff)
    val longIds = Seq("doc_a", "doc_b").forall(c =>
      pairs.schema(c).dataType == org.apache.spark.sql.types.LongType)
    if (!longIds) return clustersStar(pairs, maxIters, durable)
    // PROBE-FIRST limit-collect (r22, the Models.scala guard discipline):
    // one job decides the branch AND delivers the edges — the r21 shape
    // (persist + branch-deciding count + collect + unpersist) paid two
    // jobs plus a cache round-trip for the same information. The limit
    // stops the scan at driverEdgeLimit+1 rows, so an over-limit edge set
    // costs a bounded partial pass, not a full materialization. The
    // threshold counts self-loop pairs too — a plan-choice heuristic
    // only: both branches produce identical labels (DupClustersSpec
    // union-find pins).
    val probe = (math.min(driverEdgeLimit, Int.MaxValue.toLong - 1) + 1).toInt
    val local = pairs.select(col("doc_a"), col("doc_b"))
      .limit(probe).as[(Long, Long)].collect()
    if (local.length > driverEdgeLimit) {
      // pass the ORIGINAL pairs: clustersStar draws its node set from
      // them, so docs whose only pair is a self-loop keep their
      // singleton row
      clustersStar(pairs, maxIters, durable)
    } else {
      // self-loops stay IN the collect: their endpoints register below
      // as union-find nodes, which is what keeps singleton docs in the
      // output without a second pass over `pairs`
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val p = parent(c); parent(c) = r; c = p }
        r
      }
      local.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN root so the label IS the component min, matching
        // the distributed algorithms' output contract
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.toSeq.map(d => (d, find(d))).toDF("doc", "cluster")
    }
  }
}
