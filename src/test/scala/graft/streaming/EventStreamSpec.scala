package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, sec: Long, user: Long, v: Double) =
    EventStream.Event(id, new Timestamp(sec * 1000), user, "click", v)

  private def evt(id: Long, sec: Long, user: Long, typ: String) =
    EventStream.Event(id, new Timestamp(sec * 1000), user, typ, 0.0)

  test("stateIntervalsStream matches batch stateIntervals, cross-batch runs included") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.stateIntervalsStream(mem.toDS(), flushSec = 100,
        watermarkDelay = "0 seconds").writeStream
      .format("memory").queryName("intervals_et")
      .outputMode(OutputMode.Append()).start()
    val base = 1000000L
    // user 1: A A | B A (run of A continues nowhere — B closes it; the
    // first batch boundary must NOT split the A-run); user 2: C alone
    // batch split keeps user 2's event ahead of the watermark (a "0
    // seconds" delay watermark advances to the max seen time per batch)
    val batch1 = Seq(evt(1, base, 1, "A"), evt(2, base + 10, 1, "A"),
      evt(5, base + 5, 2, "C"))
    val batch2 = Seq(evt(3, base + 20, 1, "B"), evt(4, base + 30, 1, "A"))
    val all = batch1 ++ batch2
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // a far-future event advances the watermark past last + flushSec;
      // one more batch lets the timeout fire and flush the open runs
      mem.addData(evt(6, base + 10000, 3, "Z"))
      q.processAllAvailable()
      mem.addData(evt(7, base + 10001, 3, "Z"))
      q.processAllAvailable()
      val streamed = spark.table("intervals_et")
        .as[EventStream.Interval].collect()
        .filter(i => i.user_id == 1 || i.user_id == 2).toSet
      val batch = graft.operators.Sessionize.stateIntervals(
          all.toDS().toDF()
            .selectExpr("user_id", "event_type", "event_id",
              "CAST(ts AS LONG) AS sec"),
          "user_id", "event_type",
          Seq(org.apache.spark.sql.functions.col("sec"),
            org.apache.spark.sql.functions.col("event_id")),
          org.apache.spark.sql.functions.col("sec"))
        .selectExpr("user_id", "event_type", "from_sec", "to_sec", "n_events")
        .as[EventStream.Interval].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("lmGateStream: batch-trained model gates the stream, scores == batch lmScore") {
    implicit val sqlCtx = spark.sqlContext
    // train on the CurateSpec toy corpus: p(b|a)=666666 ppm, p(c|a)=333333
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val model = graft.operators.Curate.lmModel(corpus, "doc_id", "text")
    assert(model === Map("a b" -> 666666L, "a c" -> 333333L))
    val mem = MemoryStream[(Long, String)]
    mem.addData((10L, "a b"), (11L, "a c"), (12L, "x y"), (13L, "z"))
    val q = EventStream.lmGateStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", model, 500000L)
      .writeStream.format("memory").queryName("lm_gate")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val out = spark.table("lm_gate")
        .select("doc_id", "lm_score_ppm").as[(Long, Long)].collect().toMap
      // only "a b" (666666 >= 500000) survives; "a c" under threshold,
      // "x y" unseen (0), "z" has no bigram
      assert(out === Map(10L -> 666666L))
      // the surviving score is exactly the batch lmScore integer
      val batch = graft.operators.Curate.lmScore(corpus, "doc_id", "text")
        .where(org.apache.spark.sql.functions.col("doc_id") === 1L)
        .select("lm_score_ppm").as[Long].head()
      assert(batch === 666666L)
    } finally q.stop()
  }

  test("curationStream: the full curation recipe on the stream, gate by gate") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Curate
    val d1 = (1L, "alpha beta gamma delta epsilon")     // survives everything
    val d2 = (2L, "one two")                            // quality: too short
    val d3 = (3L, "spam spam spam spam spam spam")      // quality: repetitive
    val d4 = (4L, "alpha beta secret eval trigram here") // contaminated
    val d5 = (5L, "zeta yota kappa lambda mu")          // LM: corpus-atypical
    val d6 = (6L, d1._2)                                // near-dup of d1 (batch 2)
    val d7 = (7L, "omega phi chi psi upsilon")          // survives (batch 2)

    // models train on bounded reference corpora, batch-side
    val model = Curate.lmModel(
      Seq((100L, d1._2), (101L, d7._2)).toDF("doc_id", "text"),
      "doc_id", "text")
    val benchNg = Curate.benchmarkNgrams(
      Seq((200L, "secret eval trigram here extra")).toDF("doc_id", "text"),
      "doc_id", "text", 3)

    // the gates are plain DataFrame transforms: batch application pins
    // WHICH gate rejects which doc
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val b = Seq(d1, d2, d3, d4, d5).toDF("doc_id", "text")
    val g1 = EventStream.qualityScrubStream(b, "doc_id", "text", 4, 400000L)
    assert(ids(g1) === Set(1L, 4L, 5L))
    val g2 = EventStream.contaminationGateStream(
      g1, "doc_id", "scrubbed_text", benchNg, 3, 1)
    assert(ids(g2) === Set(1L, 5L))
    val g3 = EventStream.lmGateStream(
      g2, "doc_id", "scrubbed_text", model, 500000L)
    assert(ids(g3) === Set(1L))

    // the full streaming composition across two micro-batches: the
    // near-dup store carries d1's signatures into batch 2, killing d6
    val store = java.nio.file.Files.createTempDirectory("curation-store")
      .toString + "/sigs"
    val survivors = scala.collection.mutable.Set.empty[Long]
    val mem = MemoryStream[(Long, String)]
    val (gated, handler) = EventStream.curationStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      minTokens = 4, maxRepRatioPpm = 400000L,
      benchNgrams = benchNg, benchN = 3, minShared = 1,
      lmModel = model, minScorePpm = 500000L,
      storePath = store,
      emit = batch => {
        // the emitted projection must carry the scrubbed form ONLY — a
        // caller writing it as-is must be unable to persist raw PII
        assert(!batch.columns.contains("text"),
          "curationStream emitted the raw text column")
        assert(batch.columns.contains("scrubbed_text"))
        survivors ++= batch.select("doc_id").as[Long].collect()
      })
    val q = gated.writeStream.foreachBatch(handler)
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(d1, d2, d3, d4, d5)
      q.processAllAvailable()
      assert(survivors.toSet === Set(1L))
      mem.addData(d6, d7)
      q.processAllAvailable()
      assert(survivors.toSet === Set(1L, 7L),
        "batch-2 near-dup of a batch-1 survivor must be dropped; fresh doc kept")
    } finally q.stop()
  }

  test("curationStream's gated plan does not grow with the models") {
    // a model-sized literal left in the plan would make the optimized
    // plan text grow with the model; broadcast handles keep it fixed
    def gatedPlan(n: Int): String = {
      val model = (0 until n).map(i => s"w$i w${i + 1}" -> (i % 997).toLong).toMap
      val bench = (0 until n).map(i => s"b$i b${i + 1} b${i + 2}").toArray
      // an RDD scan: the optimizer would fold gates over local rows
      val docs = spark.sparkContext.parallelize(Seq((1L, "w1 w2 w3 b1 b2 b3")))
        .toDF("doc_id", "text")
      val (gated, _) = EventStream.curationStream(docs, "doc_id", "text",
        minTokens = 1, maxRepRatioPpm = 1000000L, benchNgrams = bench, benchN = 3,
        minShared = 1, lmModel = model, minScorePpm = 0L,
        storePath = "unused", emit = _ => ())
      // expression ids differ between the two builds: drop them
      gated.queryExecution.optimizedPlan.treeString.replaceAll("#\\d+", "")
    }
    val small = gatedPlan(10)
    val large = gatedPlan(10000)
    assert(small.length === large.length, s"small:\n$small\nlarge:\n$large")
    assert(!large.contains("w9998"), "a model key is in the plan")
  }

  test("kmvDistinctStream: sketch after batched arrival == batch aggregate, bit for bit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.plans.KmvSketch
    // 40 distinct hashes for key A (k=8 forces eviction), 3 for key B
    val aVals = (0 until 40).map(i => (i * 7919L + 13) % 100003)
    val bVals = Seq(11L, 5L, 11L, 99L)
    val batch1 = aVals.take(25).map(("A", _)) ++ bVals.take(2).map(("B", _))
    val batch2 = aVals.drop(25).map(("A", _)) ++ bVals.drop(2).map(("B", _))

    val mem = MemoryStream[(String, Long)]
    val q = EventStream.kmvDistinctStream(mem.toDS(), k = 8)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // each key emitted once per batch; the batch-2 row must equal the
      // batch aggregate over ALL rows (order-independent check: the
      // final sketch strictly refines the batch-1 one, so set inclusion
      // + row count pins it)
      val emitted = spark.table("kmv_stream")
        .as[(String, Seq[Long])].collect().toSeq
      assert(emitted.count(_._1 == "A") === 2)
      assert(emitted.count(_._1 == "B") === 2)

      val batchDf = (aVals.map(("A", _)) ++ bVals.map(("B", _)))
        .toDF("key", "hv")
      val expect = batchDf.groupBy("key")
        .agg(KmvSketch.kmv(org.apache.spark.sql.functions.col("hv"), 8).as("kmv"))
        .as[(String, Seq[Long])].collect().toMap

      assert(emitted.contains(("A", expect("A"))),
        "stream never reached the batch sketch for A")
      assert(emitted.contains(("B", expect("B"))))
      assert(expect("B") === Seq(5L, 11L, 99L)) // < k: exact distinct set
    } finally q.stop()
  }

  test("transitionsStream: cross-batch edges match the batch matrix") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.transitionsStream(mem.toDS())
      .writeStream.format("memory").queryName("trans_stream")
      .outputMode(OutputMode.Append()).start()
    val batch1 = Seq(evt(1, 10, 1, "a"), evt(2, 20, 1, "b"), evt(3, 10, 2, "x"))
    val batch2 = Seq(evt(4, 30, 1, "a"), evt(5, 40, 2, "x")) // edges across the boundary
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("trans_stream")
        .groupBy("from_type", "to_type").count()
        .as[(String, String, Long)].collect().toSet
      import org.apache.spark.sql.functions.col
      val batch = graft.operators.Funnel.transitions(
          (batch1 ++ batch2).toDF().withColumn("sec", col("ts").cast("long")),
          col("user_id"), col("event_type"), col("sec"), col("event_id"))
        .select("from_type", "to_type", "n")
        .as[(String, String, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch == Set(("a", "b", 1L), ("b", "a", 1L), ("x", "x", 1L)))
    } finally q.stop()
  }

  test("cmsStream: grid after batched arrival == batch aggregate, bit for bit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.plans.CmsSketch
    val aVals = (0 until 60).map(i => s"t${(i * i) % 11}")
    val bVals = Seq("x", "y", "x")
    val batch1 = aVals.take(35).map(("A", _)) ++ bVals.take(1).map(("B", _))
    val batch2 = aVals.drop(35).map(("A", _)) ++ bVals.drop(1).map(("B", _))

    val mem = MemoryStream[(String, String)]
    val q = EventStream.cmsStream(mem.toDS(), d = 3, w = 32)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val last = spark.table("cms_stream").as[(String, Seq[Long])]
        .collect().toSeq
      val expect = (aVals.map(("A", _)) ++ bVals.map(("B", _)))
        .toDF("key", "v").groupBy("key")
        .agg(CmsSketch.cms(org.apache.spark.sql.functions.col("v"), 3, 32))
        .as[(String, Seq[Long])].collect().toMap
      assert(last.contains(("A", expect("A"))),
        "stream never reached the batch grid for A")
      assert(last.contains(("B", expect("B"))))
      assert(expect("A").sum === 3L * 60) // d copies of every row
    } finally q.stop()
  }

  test("intervalJoinStreams: same-user events within the window join across batches") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventStream.Event]
    val convs = MemoryStream[EventStream.Event]
    val q = EventStream.intervalJoinStreams(clicks.toDS(), convs.toDS(),
        withinSec = 100, watermarkDelay = "0 seconds").writeStream
      .format("memory").queryName("ijoin")
      .outputMode(OutputMode.Append()).start()
    val base = 1000000L
    try {
      clicks.addData(ev(1, base, 1, 0.0), ev(2, base + 500, 1, 0.0),
        ev(3, base, 2, 0.0))
      // conversions arrive in a LATER batch: in-window (base+50, user 1),
      // out-of-window (base+200, user 1), wrong user (base+10, user 3)
      convs.addData(ev(10, base + 50, 1, 5.0), ev(11, base + 200, 1, 7.0),
        ev(12, base + 10, 3, 9.0))
      q.processAllAvailable()
      val out = spark.table("ijoin")
        .select("left_id", "right_id").as[(Long, Long)].collect().toSet
      // click 1 matches conv 10 (within 100 s); conv 11 is 200 s after
      // click 1 (out of window) and 300 s before click 2 (r.ts < l.ts)
      assert(out === Set((1L, 10L)))
    } finally q.stop()
  }

  test("tumblingCounts aggregates per window+type incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    mem.addData(ev(1, 100, 1, 1.0), ev(2, 200, 1, 2.0), ev(3, 3700, 2, 3.0))
    val q = EventStream.tumblingCounts(mem.toDF(), "1 hour").writeStream
      .format("memory").queryName("tumbling_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .selectExpr("n_events", "CAST(total_value AS DOUBLE)")
        .as[(Long, Double)].collect().sortBy(_._1)
      assert(rows.toSeq === Seq((1L, 3.0), (2L, 3.0)))
    } finally q.stop()
  }

  test("streaming near-dup filter drops intra-batch and cross-run duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("neardup-store").toString + "/sigs"
    val out = java.nio.file.Files.createTempDirectory("neardup-out").toString + "/docs"
    def runBatch(docs: (Long, String)*): Unit = {
      val mem = MemoryStream[(Long, String)]
      mem.addData(docs: _*)
      val q = mem.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch(EventStream.nearDupFilterBatch(store, "doc_id", "text",
          emit = df => df.write.mode("append").parquet(out)))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: doc 2 is an exact dup of doc 1 (intra-batch), 3 is distinct
    runBatch(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "totally different words here")
    // run 2 (new query, same store): 4 dups doc 1 across runs, 5 is new
    runBatch(4L -> "alpha beta gamma delta", 5L -> "yet another fresh document")
    val survivors = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(1L, 3L, 5L))
  }

  test("bloom-sidecar NearDupFilter matches the plain variant across restarts") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("bloom-store").toString + "/sigs"
    var emitted = Seq.empty[Long]
    val emit: org.apache.spark.sql.DataFrame => Unit =
      df => emitted = emitted ++ df.select("doc_id").as[Long].collect()
    val f1 = new EventStream.NearDupFilter(store, "doc_id", "text",
      expectedSigs = 1000L, emit = emit)
    f1(Seq(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "totally different words here").toDF("doc_id", "text"), 0L)
    assert(emitted.toSet === Set(1L, 3L))
    // "restart": a NEW instance must rebuild its bloom from the store
    val f2 = new EventStream.NearDupFilter(store, "doc_id", "text",
      expectedSigs = 1000L, emit = emit)
    f2(Seq(4L -> "alpha beta gamma delta", 5L -> "yet another fresh document")
      .toDF("doc_id", "text"), 1L)
    assert(emitted.toSet === Set(1L, 3L, 5L))
  }

  test("near-dup filter replay of the same batch emits nothing twice") {
    // at-least-once contract: signatures commit AFTER the emit, so a
    // replayed batch finds its own signatures in the store and drops
    val store = java.nio.file.Files.createTempDirectory("replay-store").toString + "/sigs"
    var emitted = Seq.empty[Long]
    import spark.implicits._
    val emit: org.apache.spark.sql.DataFrame => Unit =
      df => emitted = emitted ++ df.select("doc_id").as[Long].collect()
    val fn = EventStream.nearDupFilterBatch(store, "doc_id", "text", emit = emit)
    val batch = Seq(1L -> "some document text", 2L -> "other text entirely")
      .toDF("doc_id", "text")
    fn(batch, 0L)
    assert(emitted.toSet === Set(1L, 2L))
    fn(batch, 0L) // replayed delivery of the same batch
    assert(emitted.size === 2, "replay re-emitted already-committed docs")
  }

  test("semanticGateBatch: cross-batch + intra-batch embedding near-dups drop; replay-idempotent") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("sem-store").toString + "/vecs"
    var emitted = Seq.empty[Long]
    val emit: org.apache.spark.sql.DataFrame => Unit =
      df => emitted = emitted ++ df.select("id").as[Long].collect()
    // two well-separated cells on the x/y axes; tau high so only
    // near-parallel vectors within a cell collide
    val centroids = Array(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0))
    val fn = EventStream.semanticGateBatch(store, "id", "emb",
      centroids, tau = 0.95, emit = emit)
    def df(rows: (Long, Seq[Double])*) = rows.toDF("id", "emb")
    // batch 0: 1 and 2 are near-parallel (same cell) -> min id 1 wins;
    // 3 is the other cell and survives
    fn(df(1L -> Seq(10.0, 0.1), 2L -> Seq(9.9, 0.2), 3L -> Seq(0.1, 8.0)), 0L)
    assert(emitted.toSet === Set(1L, 3L), s"batch-0 survivors: $emitted")
    // batch 1: 4 duplicates the STORED 1 -> dropped; 5 is genuinely new
    emitted = Seq.empty
    fn(df(4L -> Seq(10.1, 0.11), 5L -> Seq(7.0, -6.9)), 1L)
    assert(emitted.toSet === Set(5L), s"batch-1 survivors: $emitted")
    // replayed delivery of batch 1: the store already holds 5 -> drops
    emitted = Seq.empty
    fn(df(4L -> Seq(10.1, 0.11), 5L -> Seq(7.0, -6.9)), 1L)
    assert(emitted.isEmpty, s"replay re-emitted: $emitted")
    // the store holds exactly the survivors, cell-partitioned
    val kept = spark.read.parquet(store).select("vid").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 5L))
  }

  test("compactSemanticStore: one folded batch dir, identical gate decisions, crash leaves no losses") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sem-compact").toString
    val store = root + "/vecs"
    val centroids = Array(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0))
    def gate(path: String, sink: scala.collection.mutable.Buffer[Long]) =
      EventStream.semanticGateBatch(path, "id", "emb", centroids, tau = 0.95,
        emit = df => sink ++= df.select("id").as[Long].collect())
    def df(rows: (Long, Seq[Double])*) = rows.toDF("id", "emb")
    val pre = scala.collection.mutable.Buffer.empty[Long]
    val g = gate(store, pre)
    // three triggers -> three batch_id dirs in the store
    g(df(1L -> Seq(10.0, 0.1), 2L -> Seq(9.9, 0.2), 3L -> Seq(0.1, 8.0)), 0L)
    g(df(4L -> Seq(7.0, -6.9)), 1L)
    g(df(5L -> Seq(-6.0, 6.1)), 2L)
    assert(pre.toSet === Set(1L, 3L, 4L, 5L))
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def batchDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(batchDirs().size === 3)
    // snapshot an uncompacted copy, compact the original
    val copy = root + "/vecs-copy"
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(store),
      fs, new org.apache.hadoop.fs.Path(copy), false,
      spark.sessionState.newHadoopConf())
    EventStream.compactSemanticStore(spark, store)
    assert(batchDirs() === Seq("batch_id=-1"), s"got ${batchDirs()}")
    // same rows survive the fold
    assert(spark.read.parquet(store).select("vid").as[Long].collect().toSet
      === Set(1L, 3L, 4L, 5L))
    // the NEXT trigger decides identically over compacted vs uncompacted:
    // 6 near-dups stored 1, 7 is new
    val next = df(6L -> Seq(10.1, 0.11), 7L -> Seq(5.0, 5.1))
    val a = scala.collection.mutable.Buffer.empty[Long]
    val b = scala.collection.mutable.Buffer.empty[Long]
    gate(store, a)(next, 3L)
    gate(copy, b)(next, 3L)
    assert(a.toSet === b.toSet && a.toSet === Set(7L),
      s"compacted=$a uncompacted=$b")
    // re-compact after the new trigger (also models the crashed-before-
    // delete re-run: byte-identical duplicates fold away in the dedup);
    // fold ids count DOWN so they never collide with trigger ids
    EventStream.compactSemanticStore(spark, store)
    assert(batchDirs() === Seq("batch_id=-2"), s"got ${batchDirs()}")
    val after = spark.read.parquet(store)
      .select("vid").as[Long].collect().sorted.toSeq
    assert(after === Seq(1L, 3L, 4L, 5L, 7L))
  }

  test("near-dup filter passes token-less documents through") {
    // a doc with no tokens produces no minhash bands — it is trivially
    // not a near-dup of anything and must be emitted, not dropped
    val store = java.nio.file.Files.createTempDirectory("notok-store").toString + "/sigs"
    var emitted = Seq.empty[Long]
    import spark.implicits._
    val emit: org.apache.spark.sql.DataFrame => Unit =
      df => emitted = emitted ++ df.select("doc_id").as[Long].collect()
    val fn = EventStream.nearDupFilterBatch(store, "doc_id", "text", emit = emit)
    fn(Seq(1L -> "real document text here", 2L -> "", 3L -> "   ")
      .toDF("doc_id", "text"), 0L)
    assert(emitted.toSet === Set(1L, 2L, 3L),
      s"token-less docs were dropped: emitted only $emitted")
    // and the bloom-sidecar variant agrees
    val store2 = java.nio.file.Files.createTempDirectory("notok2").toString + "/sigs"
    var emitted2 = Seq.empty[Long]
    val f2 = new EventStream.NearDupFilter(store2, "doc_id", "text",
      emit = df => emitted2 = emitted2 ++ df.select("doc_id").as[Long].collect())
    f2(Seq(7L -> "").toDF("doc_id", "text"), 0L)
    assert(emitted2 === Seq(7L))
  }

  test("RocksDB state store backs stateful streaming with identical results") {
    // fresh session so the provider conf doesn't leak into other tests
    val s2 = spark.newSession()
    EventStream.configureRocksDbState(s2)
    assert(s2.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    implicit val sqlCtx = s2.sqlContext
    import s2.implicits._
    val mem = MemoryStream[EventStream.Event]
    mem.addData(ev(1, 100, 1, 1.0), ev(1, 100, 1, 1.0), ev(2, 200, 1, 2.0))
    val q = EventStream.streamingDedup(mem.toDF(), "ts", Seq("event_id"))
      .writeStream.format("memory").queryName("rocks_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // the dedup state (and therefore the dropped duplicate) went through
      // RocksDB: same result as the default provider
      assert(s2.table("rocks_dedup").count() === 2)
      val stateOps = q.lastProgress.stateOperators
      assert(stateOps.nonEmpty && stateOps.head.numRowsTotal === 2)
    } finally q.stop()
  }

  test("qualityScrubStream gates and scrubs a document stream (stateless)") {
    import org.apache.spark.sql.functions._
    val src = java.nio.file.Files.createTempDirectory("docstream").toString
    Seq(
      (1L, "short doc"),                                             // too short
      (2L, "spam spam spam spam spam spam spam spam spam spam"),     // repetitive
      (3L, "a clean document with mail to alice@example.com inside " +
        "plus several further distinct useful tokens here")          // good + PII
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    EventStream.runOnce(spark,
      EventStream.qualityScrubStream(stream, "doc_id", "text",
        minTokens = 5, maxRepRatioPpm = 500000L),
      "doc_hygiene")
    val out = spark.table("doc_hygiene")
      .select("doc_id", "scrubbed_text").as[(Long, String)].collect().toSeq
    assert(out.map(_._1) === Seq(3L))
    assert(out.head._2.contains("[EMAIL]") && !out.head._2.contains("alice@"))
    // batch and stream agree exactly (stateless per-row plan)
    val batchOut = EventStream.qualityScrubStream(
        spark.read.parquet(src), "doc_id", "text", 5, 500000L)
      .select("doc_id", "scrubbed_text").as[(Long, String)].collect().toSeq
    assert(batchOut === out)
  }

  test("contaminationGateStream drops benchmark-overlapping docs, stateless") {
    import org.apache.spark.sql.functions._
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val ngrams = graft.operators.Curate.benchmarkNgrams(bench, "doc_id", "text", 3)
    assert(ngrams.length === 4) // 6 tokens -> 4 trigrams, all distinct
    val src = java.nio.file.Files.createTempDirectory("contamstream").toString
    Seq(
      (1L, "something about the quick brown fox jumps elsewhere"), // 3 shared
      (2L, "the quick red fox runs far away today"),               // 0 shared
      (3L, "quick brown fox story")                                // 1 shared
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    EventStream.runOnce(spark,
      EventStream.contaminationGateStream(stream, "doc_id", "text", ngrams,
        n = 3, minShared = 2),
      "contam_gate")
    val out = spark.table("contam_gate")
      .select("doc_id", "n_bench_ngrams").as[(Long, Long)].collect().toMap
    assert(out === Map(2L -> 0L, 3L -> 1L)) // doc 1 (3 shared trigrams) dropped
    // batch and stream agree exactly (stateless per-row plan)
    val batchOut = EventStream.contaminationGateStream(
        spark.read.parquet(src), "doc_id", "text", ngrams, 3, 2)
      .select("doc_id", "n_bench_ngrams").as[(Long, Long)].collect().toMap
    assert(batchOut === out)
  }

  test("file-source streaming: readStream over parquet -> windowed agg -> sink") {
    import org.apache.spark.sql.functions._
    // stage a copy of the events table as a streaming source directory
    val src = java.nio.file.Files.createTempDirectory("evstream").toString
    val batch = graft.Tables.events(spark, sfDir)
      .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    batch.write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
    EventStream.runOnce(spark, EventStream.tumblingCounts(stream, "1 hour"), "file_tumbling")
    val streamed = spark.table("file_tumbling")
      .agg(sum("n_events")).as[Long].head()
    // append mode emits only watermark-closed windows; the final window(s)
    // stay open, so the streamed count is within one window of the batch total
    val total = batch.count()
    assert(streamed > 0 && streamed <= total)
    val batchHours = batch.select(window(col("ts"), "1 hour")).distinct().count()
    val streamedHours = spark.table("file_tumbling")
      .select("window").distinct().count()
    assert(streamedHours >= batchHours - 1)
  }

  test("event-time sessionization: late in-watermark events never invert the session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    // generous watermark delay so batch-2's old event is ADMITTED late data
    val q = EventStream.sessionizeEventTime(mem.toDS(), gapSec = 1800,
        watermarkDelay = "2 hours").writeStream
      .format("memory").queryName("sess_late")
      .outputMode(OutputMode.Append()).start()
    val base = 1000000L
    try {
      // batch 1: session state (start=base+600, last=base+600)
      mem.addData(ev(1, base + 600, 1, 1.0))
      q.processAllAvailable()
      // batch 2: a LATE event 500s EARLIER — within the gap, must extend
      // the session's START backwards, not drag its END to base+100
      mem.addData(ev(2, base + 100, 1, 2.0))
      q.processAllAvailable()
      // batch 3+: far-future events advance the watermark past the
      // session's close point, then fire the timeout
      mem.addData(ev(3, base + 20000, 2, 5.0))
      q.processAllAvailable()
      mem.addData(ev(4, base + 20001, 2, 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess_late").as[EventStream.Session].collect()
        .filter(_.user_id == 1L)
      assert(closed.toSeq ===
        Seq(EventStream.Session(1L, base + 100, base + 600, 2L, 3.0)))
      assert(closed.forall(s => s.session_end >= s.session_start))
    } finally q.stop()
  }

  test("a same-batch late burst gap-merges like the batch twin, not per event") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.sessionizeEventTime(mem.toDS(), gapSec = 100,
        watermarkDelay = "10 hours").writeStream
      .format("memory").queryName("sess_burst")
      .outputMode(OutputMode.Append()).start()
    val base = 1000000L
    try {
      // batch 1: live session far in the future of the late burst
      mem.addData(ev(1, base + 10000, 1, 1.0))
      q.processAllAvailable()
      // batch 2: three late events, all older than start - gap. The first
      // two are within gapSec of each other -> ONE closed session (the
      // batch twin's answer); the third is gap-separated -> its own.
      // The old per-event fold emitted three singletons here.
      mem.addData(ev(2, base + 100, 1, 2.0), ev(3, base + 150, 1, 3.0),
        ev(4, base + 400, 1, 4.0))
      q.processAllAvailable()
      val closed = spark.table("sess_burst").as[EventStream.Session].collect()
        .filter(_.user_id == 1L).sortBy(_.session_start)
      assert(closed.toSeq === Seq(
        EventStream.Session(1L, base + 100, base + 150, 2L, 5.0),
        EventStream.Session(1L, base + 400, base + 400, 1L, 4.0)))
    } finally q.stop()
  }

  test("a batch that bridges DOWN to its late track and jumps forward closes ONE session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.sessionizeEventTime(mem.toDS(), gapSec = 100,
        watermarkDelay = "10 hours").writeStream
      .format("memory").queryName("sess_bridge_fwd")
      .outputMode(OutputMode.Append()).start()
    val base = 1000000L
    try {
      // live session [1000, 1080]
      mem.addData(ev(1, base + 1000, 1, 1.0), ev(2, base + 1080, 1, 2.0))
      q.processAllAvailable()
      // one batch: 850 (late), 950 (bridges the session down to touch
      // 850's track), 1400 (mid-batch close). The close must re-check
      // late adjacency like the end-of-batch path does — the batch twin
      // sessionizes ONE [850, 1080], never [850,850] + [950,1080]
      mem.addData(ev(3, base + 850, 1, 3.0), ev(4, base + 950, 1, 4.0),
        ev(5, base + 1400, 1, 5.0))
      q.processAllAvailable()
      val closed = spark.table("sess_bridge_fwd")
        .as[EventStream.Session].collect().filter(_.user_id == 1L)
      assert(closed.toSeq === Seq(
        EventStream.Session(1L, base + 850, base + 1080, 4L, 10.0)))
    } finally q.stop()
  }

  test("stateIntervalsStream: late live-type then late different-type never emits overlapping intervals") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.stateIntervalsStream(mem.toDS(), flushSec = 100000,
        watermarkDelay = "2 hours").writeStream
      .format("memory").queryName("intervals_late_mix")
      .outputMode(OutputMode.Append()).start()
    val base = 1000000L
    try {
      mem.addData(evt(1, base + 1000, 1, "A"), evt(2, base + 2000, 1, "A"))
      q.processAllAvailable()
      // late A@500 then late B@600: merging A@500 into the live run
      // first would rewind `from` to 500 and make B@600 read as INSIDE
      // the run — closing the live A[500,2000] with B[600,600] inside
      // it (overlap). The batch twin's answer: A[500], B[600], live
      // A[1000,2000] untouched.
      mem.addData(evt(3, base + 500, 1, "A"), evt(4, base + 600, 1, "B"))
      q.processAllAvailable()
      val closed = spark.table("intervals_late_mix")
        .as[EventStream.Interval].collect().toSet
      assert(closed === Set(
        EventStream.Interval(1L, "A", base + 500, base + 500, 1L),
        EventStream.Interval(1L, "B", base + 600, base + 600, 1L)))
      // the live run is intact: a later A extends it, nothing overlaps
      mem.addData(evt(5, base + 2100, 1, "A"))
      q.processAllAvailable()
      assert(spark.table("intervals_late_mix")
        .as[EventStream.Interval].collect().toSet === closed)
    } finally q.stop()
  }

  test("event-time sessionization closes sessions when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.sessionizeEventTime(mem.toDS(), gapSec = 1800,
        watermarkDelay = "0 seconds").writeStream
      .format("memory").queryName("sess_et")
      .outputMode(OutputMode.Append()).start()
    // times offset from 0: an event at epoch 0 ties the initial watermark
    // and would be dropped as late
    val base = 1000000L
    try {
      // batch 1: one session for user 1 (events base+0s and base+10s)
      mem.addData(ev(1, base, 1, 1.0), ev(2, base + 10, 1, 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_et").count() === 0) // watermark hasn't passed
      // batch 2: an event far in the future advances the watermark past
      // last + gap(1800) -> user 1's session must close via timeout
      mem.addData(ev(3, base + 10000, 2, 5.0))
      q.processAllAvailable()
      // one more batch so the timeout (vs the new watermark) fires
      mem.addData(ev(4, base + 10001, 2, 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess_et").as[EventStream.Session].collect()
        .filter(_.user_id == 1L)
      assert(closed.toSeq === Seq(EventStream.Session(1L, base, base + 10L, 2L, 3.0)))
    } finally q.stop()
  }

  test("streamingDedup drops duplicate keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    mem.addData(ev(1, 100, 1, 1.0), ev(1, 100, 1, 1.0), ev(2, 200, 2, 2.0))
    val q = EventStream.streamingDedup(mem.toDF(), "ts", Seq("event_id")).writeStream
      .format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() === 2)
    } finally q.stop()
  }

  test("sessionizeStream closes sessions on gap within a batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    // user 1: two events 10s apart, then a 3000s gap -> first session closes
    mem.addData(ev(1, 0, 1, 1.0), ev(2, 10, 1, 2.0), ev(3, 3010, 1, 4.0))
    val q = EventStream.sessionizeStream(mem.toDS(), gapSec = 1800,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()).writeStream
      .format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val closed = spark.table("sess_test").as[EventStream.Session].collect()
      assert(closed.length === 1)
      assert(closed.head === EventStream.Session(1L, 0L, 10L, 2L, 3.0))
    } finally q.stop()
  }

  test("sessionizeStream: a late batch that bridges down to its own late track merges into ONE session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.sessionizeStream(mem.toDS(), gapSec = 100,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()).writeStream
      .format("memory").queryName("sess_bridge")
      .outputMode(OutputMode.Append()).start()
    try {
      // state becomes [1000, 1080]
      mem.addData(ev(1, 1000, 1, 1.0), ev(2, 1080, 1, 1.0))
      q.processAllAvailable()
      // 850 is > gap before 1000 (late track); 950 extends the current
      // session's START down to 950, which is adjacent to 850+100 — the
      // batch twin sessionizes ONE [850,1080]; a spurious [850,850]
      // close here was the pre-fix divergence
      mem.addData(ev(3, 850, 1, 1.0), ev(4, 950, 1, 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_bridge").count() === 0) // nothing closed
      // a far gap closes the single merged session
      mem.addData(ev(5, 9000, 1, 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess_bridge").as[EventStream.Session].collect()
      assert(closed.toSeq === Seq(EventStream.Session(1L, 850L, 1080L, 4L, 4.0)))
    } finally q.stop()
  }

  test("stateIntervalsStream: a late different-type point emits its own interval without rewinding the live run") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.stateIntervalsStream(mem.toDS(), flushSec = 100000,
        watermarkDelay = "2 hours").writeStream
      .format("memory").queryName("intervals_late")
      .outputMode(OutputMode.Append()).start()
    val base = 1000000L
    try {
      mem.addData(evt(1, base + 1000, 1, "A"), evt(2, base + 2000, 1, "A"))
      q.processAllAvailable()
      // late B entirely BEFORE the live A-run (inside the watermark):
      // the pre-fix behavior closed A[1000,2000] and restarted at
      // B[500,500], so the next A event produced OVERLAPPING intervals
      // A[1000,2000], A[2100,2100]
      mem.addData(evt(3, base + 500, 1, "B"))
      q.processAllAvailable()
      mem.addData(evt(4, base + 2100, 1, "A"))
      q.processAllAvailable()
      val closed = spark.table("intervals_late")
        .as[EventStream.Interval].collect().toSet
      assert(closed === Set(
        EventStream.Interval(1L, "B", base + 500, base + 500, 1L)))
      // the live A-run stayed intact: no A interval closed, no overlap
      assert(!closed.exists(_.event_type == "A"))
    } finally q.stop()
  }

  test("stateIntervalsStream: adjacent late different-type events collapse into one run like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.stateIntervalsStream(mem.toDS(), flushSec = 100000,
        watermarkDelay = "2 hours").writeStream
      .format("memory").queryName("intervals_late_run")
      .outputMode(OutputMode.Append()).start()
    val base = 1000000L
    try {
      mem.addData(evt(1, base + 1000, 1, "A"), evt(2, base + 2000, 1, "A"))
      q.processAllAvailable()
      // one late batch against the live A[1000,2000] run:
      //   B@300, B@400  -> ONE late run B[300,400] n=2 (batch twin:
      //                    consecutive same-type rows are one run)
      //   C@450         -> type change closes B, opens C[450,450]
      //   B@480         -> closes C, opens a NEW late B run (not merged
      //                    with B[300,400] — C sits between)
      //   A@500         -> live-type event: merges into the live run
      //                    (documented min/max rewind) and closes the
      //                    late track (it splits the batch timeline)
      mem.addData(evt(3, base + 300, 1, "B"), evt(4, base + 400, 1, "B"),
        evt(5, base + 450, 1, "C"), evt(6, base + 480, 1, "B"),
        evt(7, base + 500, 1, "A"))
      q.processAllAvailable()
      val closed = spark.table("intervals_late_run")
        .as[EventStream.Interval].collect().toSet
      assert(closed === Set(
        EventStream.Interval(1L, "B", base + 300, base + 400, 2L),
        EventStream.Interval(1L, "C", base + 450, base + 450, 1L),
        EventStream.Interval(1L, "B", base + 480, base + 480, 1L)))
      assert(!closed.exists(_.event_type == "A"), "live run must stay open")
    } finally q.stop()
  }

  test("funnelStream: transitions across batches == batch funnel depths") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.funnelStream(mem.toDS(), steps, windowSec = 1000L)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Append()).start()
    // user 1 completes across the batch boundary; user 2 stalls at view;
    // user 3's click lands outside the 1000s window (no advance); user 4
    // re-views after entering — must NOT restart the funnel
    val batch1 = Seq(evt(1, 100, 1, "view"), evt(2, 200, 1, "click"),
      evt(3, 100, 2, "view"), evt(4, 100, 3, "view"),
      evt(5, 100, 4, "view"))
    val batch2 = Seq(evt(6, 300, 1, "purchase"),
      evt(7, 2000, 3, "click"), evt(8, 5000, 4, "view"),
      evt(9, 5010, 4, "click")) // >1000s after user 4's t1=100: no advance
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("funnel_stream").as[EventStream.StepReach]
        .collect().toSet
      assert(got == Set(
        EventStream.StepReach(1, 1, "view", 100), EventStream.StepReach(1, 2, "click", 200),
        EventStream.StepReach(1, 3, "purchase", 300),
        EventStream.StepReach(2, 1, "view", 100),
        EventStream.StepReach(3, 1, "view", 100),
        EventStream.StepReach(4, 1, "view", 100)))
      // per-step counts == batch Funnel.funnel over the union
      import org.apache.spark.sql.functions.col
      val all = (batch1 ++ batch2).toDF()
        .withColumn("sec", col("ts").cast("long"))
      val batchCounts = graft.operators.Funnel.funnel(all, col("user_id"),
          col("event_type"), col("sec"), col("event_id"), steps, 1000L)
        .orderBy("step").collect().map(_.getLong(2)).toSeq
      val streamCounts = (1 to 3).map(s => got.count(_.step == s).toLong)
      assert(streamCounts == batchCounts)
    } finally q.stop()
  }

  test("upsertBatch: last-change-per-key CDC upsert; replay-idempotent; time travel") {
    import spark.implicits._
    import graft.sinks.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("cdc").toString + "/t"
    val fn = EventStream.upsertBatch(root, Seq("id"),
      org.apache.spark.sql.functions.col("seq"))
    def df(rows: (Long, Long, String)*) = rows.toDF("id", "seq", "v")
    // batch 0: two changes for key 1 in one batch -> the higher seq wins
    fn(df((1L, 1L, "a0"), (1L, 2L, "a1"), (2L, 1L, "b0")), 0L)
    assert(SnapshotTable.read(spark, root).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a1"), (2L, "b0")))
    // batch 1: update key 2, insert key 3
    fn(df((2L, 2L, "b1"), (3L, 1L, "c0")), 1L)
    assert(SnapshotTable.read(spark, root).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a1"), (2L, "b1"), (3L, "c0")))
    // at-least-once redelivery of batch 1: same content, new version
    fn(df((2L, 2L, "b1"), (3L, 1L, "c0")), 1L)
    assert(SnapshotTable.read(spark, root).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a1"), (2L, "b1"), (3L, "c0")))
    // pre-batch-1 state still time-travels (version 1 = batch 0)
    assert(SnapshotTable.read(spark, root, Some(1L)).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a1"), (2L, "b0")))
  }

  test("annIngestBatch: stream-built IVF/PQ index == batch-built, replay-idempotent") {
    import graft.operators.{IvfIndex, PqIndex}
    import org.apache.spark.sql.functions.col
    val dim = 8
    val all = (0 until 24).map { i =>
      (i.toLong, Array.tabulate(dim)(d => ((i * 7 + d * 13) % 29).toFloat))
    }.toDF("id", "emb")
    // models trained once on the reference corpus (broadcast-sized)
    val centroidsDf = IvfIndex.train(all, "id", "emb", k = 4, iters = 1)
    val centroids = centroidsDf.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val books = PqIndex.trainBooks(all, "id", "emb", m = 2, k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ann-ingest").toString
    val idx = s"$dir/index"
    val fn = EventStream.annIngestBatch(idx, "id", "emb", centroids, books)
    val (b1, b2) = (all.where(col("id") < 10), all.where(col("id") >= 10))
    fn(b1, 0L); fn(b2, 1L)
    fn(b2, 1L) // replay: dynamic overwrite of batch 1's partitions, no dups
    val ingested = spark.read.parquet(idx)
    assert(ingested.count() === 24, "replay must not duplicate rows")
    // content: assignments and codes match the one-shot batch computation
    val batchAssigned = IvfIndex.assign(all, "id", "emb", centroidsDf)
      .select(col("vid"), col("centroid_id"))
    val batchCoded = PqIndex.encode(all, "id", "emb", books)
      .select(col("vid"), col("code_0"), col("code_1"))
    val expect = batchAssigned.join(batchCoded, "vid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    val got = ingested.select("vid", "centroid_id", "code_0", "code_1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got === expect)
    // a query over the stream-built index == search over the raw table
    val qv = Array.tabulate(dim)(d => (d + 1).toFloat)
    val viaIndex = IvfIndex.searchIndexed(ingested, "id", centroidsDf, qv,
        topK = 5, nProbes = 2, excludeId = None)
      .collect().map(_.getLong(0)).toSeq
    val viaRaw = IvfIndex.search(all, "id", "emb", centroidsDf, qv,
        topK = 5, nProbes = 2, excludeId = None)
      .collect().map(_.getLong(0)).toSeq
    assert(viaIndex === viaRaw)
    // the SAME ingested store also serves the codes-only ADC path: the
    // flat-PQ searchEncoded over it == encode-and-search over raw vectors
    val viaAdc = PqIndex.searchEncoded(ingested, "id", books, qv,
        topK = 5, excludeId = None)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaAdcRaw = PqIndex.searchAdcWith(all, "id", "emb", books, qv,
        topK = 5, excludeId = None)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaAdc === viaAdcRaw)
  }

  test("histStream: per-key histogram after batched arrival == batch binning, bin for bin") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Stats
    // values straddle the domain edges: negatives and >hi must clamp
    val aVals = Seq(-5L, 0L, 7L, 10L, 55L, 99L, 100L, 120L)
    val bVals = Seq(33L, 34L, 35L)
    val mem = MemoryStream[(String, Long)]
    val q = EventStream.histStream(mem.toDS(), lo = 0L, hi = 100L, bins = 10)
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(aVals.take(4).map(("A", _)) ++ bVals.take(1).map(("B", _)): _*)
      q.processAllAvailable()
      mem.addData(aVals.drop(4).map(("A", _)) ++ bVals.drop(1).map(("B", _)): _*)
      q.processAllAvailable()
      val emitted = spark.table("hist_stream")
        .as[(String, Seq[Long])].collect().toSeq
      def batchBins(vs: Seq[Long]): Seq[Long] = {
        val h = new Array[Long](10)
        vs.foreach(v => h(math.min(math.max(v / 10L, 0L), 9L).toInt) += 1L)
        h.toSeq
      }
      assert(emitted.contains(("A", batchBins(aVals))),
        "stream never reached the batch histogram for A")
      assert(emitted.contains(("B", batchBins(bVals))))
      // and the snapshot feeds the SAME quantile arithmetic as batch:
      // p50 of A's stream histogram == histogramQuantiles on A's values
      val batchQ = Stats.histogramQuantiles(aVals.toDF("v"),
          org.apache.spark.sql.functions.col("v"), 0L, 100L, 10, Seq(500000L))
        .select("bin").as[Long].head()
      val streamBins = emitted.filter(_._1 == "A").last._2
      val n = streamBins.sum
      val rank = math.max((500000L * n + 999999L) / 1000000L, 1L)
      val streamBin = streamBins.scanLeft(0L)(_ + _).tail.indexWhere(_ >= rank)
      assert(streamBin.toLong === batchQ,
        "stream-histogram quantile diverged from the batch operator")
    } finally q.stop()
  }

  test("packStream: micro-batches continue the global packing == batch packSequences; replay idempotent") {
    import spark.implicits._
    import graft.operators.TrainMix
    // tokens 1..5 cycling, plus a zero-token doc both sides must drop
    val docs = (1L to 20L).map(i => (i, 1L + i % 5)) :+ ((21L, 0L))
    val df = docs.toDF("doc_id", "n_tokens")
    val batchTwin = TrainMix.packSequences(df, Seq($"doc_id"), "n_tokens", 8L)
      .select("doc_id", "seq_id", "seq_off", "n_splits")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toVector
    val state = java.nio.file.Files
      .createTempDirectory("pack-stream").toString + "/ledger"
    var emitted = Vector.empty[(Long, Long, Long, Long)]
    val emit: org.apache.spark.sql.DataFrame => Unit = d =>
      emitted = emitted ++ d.select("doc_id", "seq_id", "seq_off", "n_splits")
        .as[(Long, Long, Long, Long)].collect()
    val fn = EventStream.packStream(state, Seq("doc_id"), "n_tokens", 8L, emit)
    fn(df.where($"doc_id" <= 7), 0L)
    fn(df.where($"doc_id" > 7 && $"doc_id" <= 14), 1L)
    val beforeReplay = emitted
    // replay of batch 1 re-emits the IDENTICAL layout, no state advance
    fn(df.where($"doc_id" > 7 && $"doc_id" <= 14), 1L)
    assert(emitted.drop(beforeReplay.size).sortBy(_._1) ==
      beforeReplay.filter(_._1 > 7).sortBy(_._1),
      "replayed batch diverged from its first emission")
    fn(df.where($"doc_id" > 14), 2L)
    assert(emitted.distinct.sortBy(_._1) == batchTwin,
      "stream packing diverged from the batch twin")
  }

  test("mixtureGateStream: batch-trained rates gate the stream == batch sample") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TrainMix
    // corpus with masses small=4, big=16 -> rates 1e6, 500000 ppm
    val corpus = (1L to 4L).map(i => (i, "small", 1L)) ++
      (10L to 25L).map(i => (i, "big", 1L))
    val corpusDf = corpus.toDF("doc_id", "source", "n_tokens")
    val rates = TrainMix.mixtureRates(corpusDf, "source", "n_tokens")
    assert(rates === Map("small" -> 1000000L, "big" -> 500000L))

    val mem = MemoryStream[(Long, String)]
    mem.addData(corpus.map { case (id, src, _) => (id, src) }: _*)
    mem.addData((99L, "unknown")) // untrained source: dropped
    val q = EventStream.mixtureGateStream(
        mem.toDF().toDF("doc_id", "source"), "doc_id", "source", rates, 4)
      .writeStream.format("memory").queryName("mix_gate")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("mix_gate")
        .select("doc_id", "shard").as[(Long, Long)].collect().toMap
      // stream keeps exactly the batch temperatureSample's documents
      val batch = TrainMix.temperatureSample(
          corpusDf, "source", "n_tokens",
          org.apache.spark.sql.functions.col("doc_id"))
        .select("doc_id").as[Long].collect().toSet
      assert(streamed.keySet === batch)
      assert(!streamed.contains(99L))
      // shard labels agree with the batch layout
      val layout = TrainMix.shardLayout(
          corpusDf.select("doc_id"),
          org.apache.spark.sql.functions.col("doc_id"), 4)
        .select("doc_id", "shard").as[(Long, Long)].collect().toMap
      streamed.foreach { case (id, sh) => assert(layout(id) == sh) }
    } finally q.stop()
  }
}
