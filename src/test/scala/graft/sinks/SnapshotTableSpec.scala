package graft.sinks

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("snap").toString + "/t"

  test("publish -> read round trip; second publish swaps atomically") {
    val root = tmp()
    val v1 = SnapshotTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    assert(v1 == 1L)
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
    val v2 = SnapshotTable.write(Seq((3L, "c")).toDF("id", "v"), root)
    assert(v2 == 2L)
    assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((3L, "c")))
  }

  test("time travel: pinned versions survive later publishes") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "old")).toDF("id", "v"), root)
    SnapshotTable.write(Seq((1L, "new")).toDF("id", "v"), root)
    assert(SnapshotTable.read(spark, root, Some(1L)).as[(Long, String)]
      .collect().toSeq == Seq((1L, "old")))
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L))
  }

  test("a crashed writer (data dir, no manifest) is invisible to readers") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "live")).toDF("id", "v"), root)
    // simulate a crash after the data write, before the manifest claim
    Seq((9L, "torn")).toDF("id", "v").write
      .parquet(s"$root/data/d-orphan")
    assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((1L, "live")))
    assert(SnapshotTable.versions(spark, root) == Seq(1L))
  }

  test("concurrent claim: a taken version slot forces a retry at the next one") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v"), root)
    // another writer holds the claim for version 2 (manifest not yet)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    f.create(new org.apache.hadoop.fs.Path(root, "_manifests/claim-2"), false).close()
    val v = SnapshotTable.write(Seq((2L, "b")).toDF("id", "v"), root)
    assert(v == 3L) // slot 2 was taken: the commit claimed 3
    assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((2L, "b")))
  }

  test("append commits accumulate; readChanges reads exactly the new files") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v"), root)
    SnapshotTable.write(Seq((2L, "b")).toDF("id", "v"), root, append = true)
    SnapshotTable.write(Seq((3L, "c")).toDF("id", "v"), root, append = true)
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // incremental consumer that processed v1 sees only v2+v3 data
    assert(SnapshotTable.readChanges(spark, root, sinceVersion = 1L)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((2L, "b"), (3L, "c")))
    assert(SnapshotTable.readChanges(spark, root, 1L, Some(2L))
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    assert(SnapshotTable.readChanges(spark, root, 3L).count() == 0L)
  }

  test("compact: replace-commit shrinks the file set; time travel intact; vacuum reclaims") {
    val root = tmp()
    // three append commits, 4 files each -> live manifest lists 12 files
    SnapshotTable.write((1L to 40L).toDF("id").repartition(4), root)
    SnapshotTable.write((41L to 80L).toDF("id").repartition(4), root,
      append = true)
    SnapshotTable.write((81L to 120L).toDF("id").repartition(4), root,
      append = true)
    def manifestCount(v: Long): Int =
      SnapshotTable.read(spark, root, Some(v)).inputFiles.length
    assert(manifestCount(3L) == 12)
    val (v4, shuffled) = shuffleBytesWritten(SnapshotTable.compact(spark, root))
    assert(v4 == 4L)
    assert(shuffled === 0L, "compact coalesces the scan, it never shuffles")
    // data identical, file count reset (120 tiny rows -> one target file)
    assert(manifestCount(4L) == 1)
    assert(SnapshotTable.read(spark, root).as[Long].collect().sorted.toSeq ==
      (1L to 120L))
    // every pre-compact version still time-travels
    assert(SnapshotTable.read(spark, root, Some(2L)).as[Long]
      .collect().sorted.toSeq == (1L to 80L))
    // vacuum to the compacted version reclaims the superseded dirs
    SnapshotTable.vacuum(spark, root, keep = 1, orphanGraceMs = 0)
    val dataDirs = new java.io.File(s"$root/data").listFiles().toSeq
    assert(dataDirs.size == 1, s"superseded dirs survived: $dataDirs")
    assert(SnapshotTable.read(spark, root).as[Long].collect().sorted.toSeq ==
      (1L to 120L))
  }

  test("merge: upsert by key — matched rows replaced, unmatched inserted, one commit") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root)
    val v = SnapshotTable.merge(
      Seq((2L, "B"), (4L, "d")).toDF("id", "v"), root, Seq("id"))
    assert(v == 2L)
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // time travel: the pre-merge snapshot is intact
    assert(SnapshotTable.read(spark, root, Some(1L)).orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("merge: a source holding one key twice lands both rows, as a SQL MERGE would") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root)
    SnapshotTable.merge(
      Seq((2L, "B1"), (2L, "B2"), (4L, "d")).toDF("id", "v"), root, Seq("id"))
    assert(SnapshotTable.read(spark, root).orderBy("id", "v").as[(Long, String)]
      .collect().toSeq ==
      Seq((1L, "a"), (2L, "B1"), (2L, "B2"), (3L, "c"), (4L, "d")))
  }

  test("merge: the key probe and the rewrite join the source keys as projected, with no aggregate") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    object Plans extends AdaptiveSparkPlanHelper
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root)
    val plans = org.apache.spark.sql.ExecutedPlans.during(spark) {
      SnapshotTable.merge(Seq((2L, "B"), (4L, "d")).toDF("id", "v"), root, Seq("id"))
    }
    val aggregates = plans.flatMap(Plans.collect(_) { case a: HashAggregateExec => a })
    // the touched-file probe still takes the distinct file names
    assert(aggregates.exists(_.groupingExpressions.exists(_.references.exists(_.name == "__file"))))
    val onKeys = aggregates.filter(_.groupingExpressions.exists(_.references.exists(_.name == "id")))
    assert(onKeys.isEmpty, s"source keys aggregated: ${onKeys.mkString("; ")}")
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("merge: a grace-expired debris claim at base+1 is voided, not a permanent wedge") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a crashed writer left an unlanded claim at exactly base+1 — on a
    // merge-only table (no appenders to void it), the pre-fix protocol
    // aborted EVERY retry with staleBase until vacuum's 24h sweep
    val debris = new org.apache.hadoop.fs.Path(root, "_manifests/claim-2")
    f.create(debris, false).close()
    f.setTimes(debris,
      System.currentTimeMillis() - SnapshotTable.claimGraceMs - 1000L, -1L)
    val v = SnapshotTable.merge(
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), root, Seq("id"))
    assert(v == 3L) // slot 2 voided (empty append), merge landed at 3
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // the void carries version 1's chain: reads at 2 see the old rows
    assert(SnapshotTable.read(spark, root, Some(2L)).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("merge: a LIVE claim at base+1 still aborts loudly (no shadow)") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v"), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // fresh claim (inside the grace window): a real racer is mid-commit
    f.create(new org.apache.hadoop.fs.Path(root, "_manifests/claim-2"),
      false).close()
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.merge(Seq((1L, "A")).toDF("id", "v"), root, Seq("id"))
    }
    // nothing landed: the table is untouched
    assert(SnapshotTable.versions(spark, root) == Seq(1L))
  }

  test("merge: only files containing matched keys are rewritten (CoW file pruning)") {
    val root = tmp()
    // two files with disjoint key ranges: repartitionByRange on a sorted
    // 2-split puts ids 1-2 and 11-12 in separate parquet files
    val base = Seq((1L, "a"), (2L, "b"), (11L, "x"), (12L, "y")).toDF("id", "v")
      .repartitionByRange(2, col("id"))
    SnapshotTable.write(base, root)
    val before = SnapshotTable.read(spark, root)
      .select(input_file_name().as("f"), col("id"))
      .as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(before.size == 2, s"fixture wants 2 files, got ${before.keys}")
    val lowFile = before.find(_._2.contains(1L)).get._1
    val highFile = before.find(_._2.contains(11L)).get._1
    assert(lowFile != highFile, "fixture wants disjoint key files")
    SnapshotTable.merge(Seq((2L, "B")).toDF("id", "v"), root, Seq("id"))
    val after = SnapshotTable.read(spark, root)
      .select(input_file_name().as("f")).distinct().as[String].collect().toSet
    // the file holding only UNMATCHED keys is carried verbatim (same
    // physical path); the matched-key file is gone, replaced by fresh ones
    assert(after.contains(highFile), "untouched file must be carried, not rewritten")
    assert(!after.contains(lowFile), "touched file must be replaced")
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "B"), (11L, "x"), (12L, "y")))
  }

  test("merge: null keys match null-safely — replay inserts no duplicates") {
    val root = tmp()
    SnapshotTable.write(Seq((Some(1L), "a")).toDF("id", "v"), root)
    val batch = Seq((Option.empty[Long], "n"), (Some(2L), "b")).toDF("id", "v")
    SnapshotTable.merge(batch, root, Seq("id"))
    SnapshotTable.merge(batch, root, Seq("id")) // at-least-once redelivery
    val rows = SnapshotTable.read(spark, root)
      .as[(Option[Long], String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((None, "n"), (Some(1L), "a"), (Some(2L), "b")),
      s"null-keyed row duplicated or lost: ${rows.toSeq}")
  }

  test("merge: replaying the same source is idempotent; empty table bootstraps") {
    val root = tmp()
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    SnapshotTable.merge(batch, root, Seq("id")) // no live version -> plain write
    SnapshotTable.merge(batch, root, Seq("id")) // replay
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L))
  }

  test("vacuum keeps data dirs referenced by kept APPEND manifests") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v"), root)
    SnapshotTable.write(Seq((2L, "b")).toDF("id", "v"), root, append = true)
    SnapshotTable.write(Seq((3L, "c")).toDF("id", "v"), root, append = true)
    SnapshotTable.vacuum(spark, root, keep = 1, orphanGraceMs = 0L)
    // manifest 3 references v1, v2 AND v3 dirs: all must survive
    assert(SnapshotTable.versions(spark, root) == Seq(3L))
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("two real concurrent writers: every commit lands, versions never collide") {
    val root = tmp()
    SnapshotTable.write(Seq((0L, "base")).toDF("id", "v"), root)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 2).map { w =>
      Future {
        (1 to 4).map { i =>
          SnapshotTable.write(Seq((w * 100L + i, s"w$w-$i")).toDF("id", "v"),
            root, append = true)
        }
      }
    }
    val claimed = Await.result(Future.sequence(writers), 120.seconds).flatten
    assert(claimed.distinct.size == 8, s"version collision: $claimed")
    assert(SnapshotTable.versions(spark, root).size == 9) // base + 8
    // appenders wait for lower claims to land before building their
    // carried list, so NO append is ever lost: the live manifest holds
    // the base row plus every one of the 8 commits
    val live = SnapshotTable.read(spark, root).as[(Long, String)].collect().toSet
    assert(live.size == 9, s"lost appends: ${live.toSeq.sortBy(_._1)}")
    assert(live.contains((0L, "base")))
  }

  test("append waits for a lower in-flight claim, then carries its files") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v"), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // writer A holds claim-2 with no manifest yet
    f.create(new org.apache.hadoop.fs.Path(root, "_manifests/claim-2"), false).close()
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    Future {
      // A lands manifest-2 once it SEES B's claim-3 — not on a timer:
      // B's pre-wait data-write job can take arbitrarily long under a
      // loaded full-suite run, and a wall-clock sleep risks either
      // landing before B ever waits (weak test) or blowing past the
      // claim grace window (B skips the claim as burned -> flake)
      val claim3 = new org.apache.hadoop.fs.Path(root, "_manifests/claim-3")
      val deadline = System.currentTimeMillis() + 30000
      while (!f.exists(claim3) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val m1 = f.open(new org.apache.hadoop.fs.Path(root, "_manifests/manifest-1"))
      val body = scala.io.Source.fromInputStream(m1).mkString
        .replace("\"version\": 1", "\"version\": 2")
      m1.close()
      // land ATOMICALLY (tmp + rename) like the real writer: B polls for
      // manifest-2 and a bare create+write would let it read torn bytes
      val tmpM = new org.apache.hadoop.fs.Path(root, "_manifests/.tmp-a2")
      val out = f.create(tmpM, true)
      out.write(body.getBytes("UTF-8")); out.close()
      f.rename(tmpM, new org.apache.hadoop.fs.Path(root, "_manifests/manifest-2"))
    }
    // B appends: must block on claim-2, then carry manifest-2's files
    val v = SnapshotTable.write(Seq((3L, "c")).toDF("id", "v"), root, append = true)
    assert(v == 3L)
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (3L, "c")))
  }

  test("append skips a burned claim older than the grace window") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v"), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val burned = new org.apache.hadoop.fs.Path(root, "_manifests/claim-2")
    f.create(burned, false).close()
    // age the claim past the grace window: a crashed writer's slot
    f.setTimes(burned, System.currentTimeMillis() - SnapshotTable.claimGraceMs - 1000L, -1L)
    val t0 = System.nanoTime()
    val v = SnapshotTable.write(Seq((2L, "b")).toDF("id", "v"), root, append = true)
    assert(v == 3L)
    assert((System.nanoTime() - t0) / 1e9 < 30.0) // did not wait out the grace
    assert(SnapshotTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("a graced-out claim is VOIDED: the slot reads as the chain below it and a late land fails loudly") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v"), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val burned = new org.apache.hadoop.fs.Path(root, "_manifests/claim-2")
    f.create(burned, false).close()
    f.setTimes(burned,
      System.currentTimeMillis() - SnapshotTable.claimGraceMs - 1000L, -1L)
    SnapshotTable.write(Seq((2L, "b")).toDF("id", "v"), root, append = true)
    // the void landed a carry-forward manifest: version 2 exists, is
    // marked void, and reads as version 1's data — a void that ended up
    // latest (its ager-out crashing too) would then NOT empty the table
    assert(SnapshotTable.versions(spark, root) === Seq(1L, 2L, 3L))
    val m2 = new org.apache.hadoop.fs.Path(root, "_manifests/manifest-2")
    val in = f.open(m2)
    val body = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    assert(body.contains("\"void\": true"))
    assert(SnapshotTable.read(spark, root, Some(2L))
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // the slow writer's land is a no-overwrite rename: with the void
    // already holding manifest-2, its rename must FAIL (the pre-fix
    // OVERWRITE would silently replace the void and report success
    // while version 3+ excludes its files forever)
    val tmpM = new org.apache.hadoop.fs.Path(root, "_manifests/.tmp-2")
    val o = f.create(tmpM, true)
    try o.write("""{"version": 2, "files": []}""".getBytes("UTF-8"))
    finally o.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new org.apache.hadoop.fs.Path(root).toUri,
      spark.sessionState.newHadoopConf())
    intercept[Exception] {
      fc.rename(tmpM, m2, org.apache.hadoop.fs.Options.Rename.NONE)
    }
    // and the void was not replaced
    val in2 = f.open(m2)
    val body2 = try scala.io.Source.fromInputStream(in2).mkString finally in2.close()
    assert(body2.contains("\"void\": true"))
  }

  test("commits leave no tmp or checksum litter in _manifests; vacuum reclaims aged tmp files") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v"), root)
    SnapshotTable.write(Seq((2L, "b")).toDF("id", "v"), root, append = true)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new org.apache.hadoop.fs.Path(root, "_manifests")
    def names() = {
      // listStatus hides dotfiles on some FS? LocalFileSystem does not —
      // walk raw java.io to see EVERYTHING, including .crc sidecars
      new java.io.File(new java.net.URI(f.makeQualified(dir).toString))
        .listFiles().map(_.getName).toSeq.sorted
    }
    val litter = names().filterNot(n =>
      n.startsWith("claim-") || n.startsWith("manifest-"))
    assert(litter.isEmpty, s"per-commit litter accretes forever: $litter")
    // an aged tmp (crashed mid-land) is reclaimed by vacuum
    val stale = new org.apache.hadoop.fs.Path(root, "_manifests/.tmp-9-dead")
    f.create(stale, true).close()
    f.setTimes(stale, System.currentTimeMillis() - 100000L, -1L)
    SnapshotTable.vacuum(spark, root, keep = 2, orphanGraceMs = 50000L)
    assert(!f.exists(stale))
    // the live table still reads
    assert(SnapshotTable.read(spark, root).count() === 2L)
  }

  test("vacuum keeps the newest manifests and reclaims unreferenced data dirs") {
    val root = tmp()
    (1 to 4).foreach(i => SnapshotTable.write(Seq((i.toLong, s"v$i")).toDF("id", "v"), root))
    Seq((9L, "torn")).toDF("id", "v").write.parquet(s"$root/data/d-orphan")
    SnapshotTable.vacuum(spark, root, keep = 2, orphanGraceMs = 0L)
    assert(SnapshotTable.versions(spark, root) == Seq(3L, 4L))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = f.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .map(_.getPath.getName)
    assert(dirs.length == 2, // v3's and v4's dirs survive, rest reclaimed
      s"v1, v2, and the orphan should be gone: ${dirs.mkString(",")}")
    assert(SnapshotTable.read(spark, root, Some(3L)).count() == 1L)
    assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((4L, "v4")))
  }

  test("vacuum grace period protects a fresh in-flight data dir") {
    val root = tmp()
    (1 to 3).foreach(i => SnapshotTable.write(Seq((i.toLong, s"v$i")).toDF("id", "v"), root))
    // an in-flight writer's fresh (unreferenced) dir — default grace keeps
    // it; the data of committed versions 1-2 is also inside the grace
    // window, so only their manifests drop
    Seq((9L, "wip")).toDF("id", "v").write.parquet(s"$root/data/d-inflight")
    SnapshotTable.vacuum(spark, root, keep = 1) // default 24h grace
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(f.exists(new org.apache.hadoop.fs.Path(root, "data/d-inflight")))
    assert(SnapshotTable.versions(spark, root) == Seq(3L))
    // the live snapshot (= newest manifest) stays readable
    assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((3L, "v3")))
  }

  test("object-store roots are refused at the API boundary, before any write") {
    // the claim/land protocol needs atomic O_EXCL create + rename — flat
    // object stores have neither through the Hadoop connector, and the
    // refusal must fire from the URI scheme alone (no s3a classes on
    // this classpath, and no data directory may be created first)
    val df = Seq((1L, "x")).toDF("k", "v")
    for (scheme <- Seq("s3a", "s3", "gs", "wasbs")) {
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.write(df, s"$scheme://bucket/table")
      }
      assert(e.getMessage.contains("conditional-put"), s"$scheme: $e")
    }
    // merge and compact ride the same commit core — spot-check one
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.merge(df, "s3a://bucket/table", Seq("k"))
    }
    assert(e.getMessage.contains("object store"))
  }

  // ---------------------------------------------- schema in the manifest

  private def manifestText(root: String, v: Long): String = {
    val src = scala.io.Source.fromFile(s"$root/_manifests/manifest-$v")
    try src.mkString finally src.close()
  }

  /** Version `v` (live if None) reads with exactly the schema and rows a
    * footer-inferring `spark.read.parquet` of the same files gives. */
  private def readsAsInferred(root: String, v: Option[Long] = None): Unit = {
    val got = SnapshotTable.read(spark, root, v)
    val inferred = spark.read.parquet(got.inputFiles: _*)
    assert(got.schema === inferred.schema)
    assert(got.orderBy("id").collect().toSeq === inferred.orderBy("id").collect().toSeq)
  }

  /** One column of each type family whose parquet round trip a recorded
    * schema must reproduce, nested non-null fields included, plus a
    * column named like the manifest's file-list field. */
  private def typed(from: Long, to: Long) = spark.range(from, to).select(
    col("id"),
    (col("id") * 1.25).cast("decimal(18,4)").as("dec"),
    expr("timestamp_seconds(id * 86400)").as("ts"),
    expr("cast(timestamp_seconds(id * 86400) as timestamp_ntz)").as("ts_ntz"),
    expr("date_add(date'2024-01-01', cast(id as int))").as("d"),
    expr("cast(cast(id as string) as binary)").as("bin"),
    expr("array(id, id + 1)").as("arr"),
    expr("map(cast(id as string), id)").as("m"),
    expr("named_struct('a', id, 'b', cast(id as string))").as("st"),
    expr("cast(null as string)").as("nothing"),
    expr("concat('f', id)").as("files"))

  test("the manifest records the schema: reads equal footer inference across commits") {
    val root = tmp()
    SnapshotTable.write(typed(0, 5), root)
    assert(manifestText(root, 1L).contains("\"schema\": "))
    readsAsInferred(root)
    SnapshotTable.write(typed(5, 8), root, append = true) // same schema
    assert(manifestText(root, 2L).contains("\"schema\": "))
    readsAsInferred(root)
    val upsert = typed(6, 10).withColumn("nothing", lit("set"))
    SnapshotTable.merge(upsert, root, Seq("id"))
    assert(manifestText(root, 3L).contains("\"schema\": "))
    readsAsInferred(root)
    assert(SnapshotTable.read(spark, root).where(col("id") === 7)
      .select("nothing").as[String].collect().toSeq === Seq("set"))
    SnapshotTable.compact(spark, root)
    assert(manifestText(root, 4L).contains("\"schema\": "))
    readsAsInferred(root)
    assert(SnapshotTable.read(spark, root).count() === 10L)
    // every older version keeps its own schema
    (1L to 3L).foreach(v => readsAsInferred(root, Some(v)))
  }

  test("an append that changes the schema records none and reads by inference") {
    val root = tmp()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v"), root)
    SnapshotTable.write(Seq((2L, "b", 2.5)).toDF("id", "v", "x"), root, append = true)
    assert(!manifestText(root, 2L).contains("\"schema\""))
    readsAsInferred(root)
    // replacing the mixed snapshot records a schema again
    SnapshotTable.compact(spark, root)
    assert(manifestText(root, 3L).contains("\"schema\": "))
    readsAsInferred(root)
  }

  test("a void copies the schema of the version it carries") {
    val root = tmp()
    SnapshotTable.write(typed(0, 3), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val burned = new org.apache.hadoop.fs.Path(root, "_manifests/claim-2")
    f.create(burned, false).close()
    f.setTimes(burned,
      System.currentTimeMillis() - SnapshotTable.claimGraceMs - 1000L, -1L)
    SnapshotTable.write(typed(3, 6), root, append = true)
    val void = manifestText(root, 2L)
    assert(void.contains("\"void\": true"))
    val schemaField = "\"schema\": \"(?:[^\"\\\\]|\\\\.)*\"".r
    assert(schemaField.findFirstIn(void).isDefined)
    assert(schemaField.findFirstIn(void) === schemaField.findFirstIn(manifestText(root, 1L)))
    readsAsInferred(root, Some(2L))
    readsAsInferred(root)
  }

  test("a manifest without a schema field (written before schemas) reads by inference") {
    val root = tmp()
    SnapshotTable.write(typed(0, 4), root)
    val files = SnapshotTable.read(spark, root).inputFiles
      .map(p => "data/" + p.split("/data/").last)
    val legacy = new java.io.File(s"$root/_manifests/manifest-2")
    java.nio.file.Files.write(legacy.toPath, files
      .map(n => "\"" + n + "\"").mkString("{\"version\": 2, \"files\": [", ", ", "]}")
      .getBytes("UTF-8"))
    val (df, jobs) = jobsStarted(SnapshotTable.read(spark, root))
    assert(jobs >= 1, "a legacy manifest should infer its schema from the footers")
    assert(df.inputFiles.length === files.length)
    readsAsInferred(root)
    // an append onto the schema-less snapshot cannot vouch for the
    // carried files, so it records none either
    SnapshotTable.write(typed(4, 6), root, append = true)
    assert(!manifestText(root, 3L).contains("\"schema\""))
    readsAsInferred(root)
  }

  test("building read and readChanges over recorded schemas starts no Spark job") {
    val root = tmp()
    SnapshotTable.write(typed(0, 3), root)
    SnapshotTable.write(typed(3, 6), root, append = true)
    val (live, liveJobs) = jobsStarted(SnapshotTable.read(spark, root))
    assert(liveJobs === 0)
    val (pinned, pinnedJobs) = jobsStarted(SnapshotTable.read(spark, root, Some(1L)))
    assert(pinnedJobs === 0)
    val (changes, changeJobs) = jobsStarted(SnapshotTable.readChanges(spark, root, 1L))
    assert(changeJobs === 0)
    val (none, noneJobs) = jobsStarted(SnapshotTable.readChanges(spark, root, 2L))
    assert(noneJobs === 0)
    assert(live.count() === 6L && pinned.count() === 3L)
    assert(changes.select("id").as[Long].collect().sorted.toSeq === Seq(3L, 4L, 5L))
    assert(none.count() === 0L && none.schema === live.schema)
  }
}
