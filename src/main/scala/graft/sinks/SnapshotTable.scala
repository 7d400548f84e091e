package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Atomic multi-file publish for parquet tables — the "readers never see
  * a partial write" guarantee the reference's pipelines get from their
  * warehouse transactions (reference: data_processor_utils.py:60 deletes
  * then inserts INSIDE Postgres; MotherDuck loads are single-statement
  * transactions). A bare parquet directory has no such boundary: a
  * failed or concurrent overwrite leaves readers a torn mix of old and
  * new files. This sink adds the minimal snapshot layer (the core idea
  * of Iceberg/Delta commit protocols, expressed with nothing but Hadoop
  * filesystem primitives):
  *
  * {{{
  *   <root>/data/d-<uuid>/part-*.parquet  immutable per-commit file set
  *   <root>/_manifests/claim-<N>          empty O_EXCL claim marker
  *   <root>/_manifests/manifest-<N>       JSON: exact file list of commit N
  *                                        + the schema of those files
  * }}}
  *
  * Commit protocol: write the (UUID-named) data directory once, CLAIM a
  * version by `create(claim-N, overwrite=false)` — an O_EXCL empty
  * marker, atomic on HDFS AND posix — then land `manifest-<N>` fully
  * via temp + rename under that exclusive claim. The manifest IS the
  * commit: there is no live-pointer file to swap (a pointer overwrite
  * is not atomic on local filesystems), the live version is simply the
  * HIGHEST manifest, which appears atomically and can only grow.
  * Readers resolve that manifest's exact file list, so they see the
  * old table or the new one, never a mix; a crashed writer leaves only
  * an unreferenced data directory (or a burned claim slot) that
  * `vacuum` reclaims after a grace period. Old manifests stay until
  * vacuumed -> free time travel by version.
  *
  * ==Manifest==
  * `{"version": N, "files": [...], "schema": "<StructType json>"}`, plus
  * `"void": true` on a void. The schema is the one the commit's writer
  * held (all fields nullable, as a parquet read reports them), so a
  * reader passes it to `spark.read.schema` and building a snapshot read
  * starts no footer-inference job. It is written only when every file
  * of the snapshot has it: a replace, merge or compact whose output
  * schema equals that of the files it carries, or an append of the same
  * schema. An append that changes the schema, and every manifest
  * written before schemas were recorded, has no `"schema"` field; such
  * a snapshot is read as before, by inferring from the files' footers
  * (the only fallback). A void copies the schema of the version it
  * carries. The field comes after `"files"`, so a column named `files`
  * inside the escaped schema string is never taken for the file list.
  *
  * ==Supported-filesystem contract==
  * The claim/land primitives REQUIRE two store guarantees: atomic
  * exclusive create (`create(overwrite=false)` — namenode-atomic on
  * HDFS, O_CREAT|O_EXCL on posix) and atomic no-overwrite rename. Flat
  * object stores provide NEITHER through the Hadoop connector (s3a's
  * create-no-overwrite and rename are copy/check-then-act), so two
  * writers could both "win" a claim and silently shadow each other's
  * commits. The DEFAULT (filesystem-backed) entry points therefore
  * REFUSE object-store schemes loudly at the API boundary
  * ([[requireAtomicCommitFs]]) instead of corrupting quietly under
  * race. For S3-class stores, every entry point accepts a
  * [[CommitStore]] — the conditional-put seam (PutObject
  * `If-None-Match: *` for claims, manifests and voids; CopyObject
  * metadata-replace for the heartbeat) — which supplies the atomicity
  * the protocol needs from the store's native API instead of the
  * Hadoop FS facade; the protocol itself is identical on both. Only
  * the manifest namespace routes through the store: data files never
  * need write atomicity (UUID-unique dirs, manifest-gated visibility),
  * so they keep the ordinary connector path. */
object SnapshotTable {

  /** Hadoop-connector schemes of flat object stores where neither
    * exclusive-create nor rename is atomic — the two primitives the
    * commit protocol stands on (see the contract note above). */
  private val nonAtomicSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "oss", "cos", "swift")

  /** Loud API-boundary guard for every committing entry point: refuses
    * a root whose scheme cannot honor the claim/land atomicity contract
    * BEFORE any data is written. Checked from the root URI (not the
    * instantiated FileSystem) so the refusal also fires on classpaths
    * without the store connector. */
  private def requireAtomicCommitFs(rootP: Path): Unit = {
    val scheme = Option(rootP.toUri.getScheme).getOrElse("file")
    require(!nonAtomicSchemes.contains(scheme.toLowerCase),
      s"snapshot-table: '$scheme://' is a flat object store — its " +
        "exclusive-create and rename are not atomic, so the claim/land " +
        "commit protocol can silently lose concurrent commits there. " +
        "Supported stores: HDFS and posix-class filesystems (atomic " +
        "O_EXCL create + rename). For S3-class stores pass a " +
        "CommitStore (conditional-put / If-None-Match integration) " +
        "instead of the Hadoop FS facade.")
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The manifest-namespace store for this table: the caller's
    * conditional-put store when given (object-store path — the store
    * carries the atomicity contract, so no scheme check), otherwise the
    * filesystem primitives behind the scheme guard. */
  private def manifestStore(spark: SparkSession, rootP: Path,
                            store: Option[CommitStore]): CommitStore =
    store.getOrElse {
      requireAtomicCommitFs(rootP)
      HadoopCommitStore(spark, rootP)
    }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `t` with every field, array element and map value nullable: the
    * schema a parquet read reports for files written with `t`. */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** One parsed manifest: the snapshot's root-relative data files and,
    * when recorded, the schema all of them were written with. */
  private case class Manifest(files: Vector[String], schema: Option[StructType])
  private val NoFiles = Manifest(Vector.empty, None)

  private def manifestBody(version: Long, m: Manifest, void: Boolean): String =
    s"""{"version": $version, "files": [${m.files.map(jsonStr).mkString(", ")}]""" +
      m.schema.fold("")(s => s""", "schema": ${jsonStr(s.json)}""") +
      (if (void) """, "void": true""" else "") + "}"

  /** Publish `df` as the table's next version; returns the version id.
    * `append = true` makes the new snapshot the previous file list PLUS
    * this commit's files (incremental loads keep every older commit's
    * immutable files); `false` (default) replaces the table.
    *
    * The data files are written ONCE (the dir is UUID-unique, no racer
    * ever shares it); only the cheap version claim retries under
    * contention. A claim is `create(path, overwrite=false)` of an empty
    * `claim-N` marker — O_EXCL, atomic on HDFS AND posix — after which
    * the claimant alone writes `manifest-N` (fully, via temp + rename,
    * so a visible manifest is never half-written). A crash between
    * claim and manifest burns version N (versions() lists manifests
    * only). Landing the manifest IS publication — the live version is
    * the highest manifest, so visibility is atomic and monotone with
    * no pointer file to race over. */
  def write(df: DataFrame, root: String, append: Boolean = false,
            maxClaimRetries: Int = 20,
            store: Option[CommitStore] = None): Long =
    commitWith(df, root, maxClaimRetries, store = store) { (ms, version) =>
      if (!append) NoFiles
      else {
        awaitLowerClaims(ms, root, version)
        carriedBelow(ms, root, version)
      }
    }

  /** The highest landed manifest below `version` (none: no files). */
  private def carriedBelow(ms: CommitStore, root: String, version: Long): Manifest =
    versionsIn(ms).filter(_ < version).lastOption
      .map(manifestIn(ms, root, _)).getOrElse(NoFiles)

  /** The shared commit core: write `df`'s files once, claim a version,
    * land the manifest as `carried(version) ++ fresh`. The `carried`
    * callback runs AFTER the claim is exclusive (append resolves the
    * previous manifest there; replace/merge pass a fixed list, with the
    * schema of the snapshot those files come from). The new manifest
    * records `df`'s schema when the carried files have the same one.
    *
    * `requireBase = Some(v)`: optimistic concurrency for read-modify-
    * write commits (merge, compact) whose output was DERIVED from
    * version v — the commit must land at exactly v+1, and a lost claim
    * means another commit landed on the same base, so the rewrite is
    * stale: abort loudly (ConcurrentModificationException) instead of
    * retrying a higher slot, which would silently shadow the racer's
    * rows. Plain replace/append pass None and retry upward (replace
    * MEANS shadow; append re-resolves its carried list under the new
    * claim, so it composes at any slot). */
  private def commitWith(df: DataFrame, root: String, maxClaimRetries: Int,
      requireBase: Option[Long] = None,
      store: Option[CommitStore] = None)(
      carried: (CommitStore, Long) => Manifest): Long = {
    val spark = df.sparkSession
    val rootP = new Path(root)
    val ms = manifestStore(spark, rootP, store)
    val f = fs(spark, rootP)
    ms.init()

    // write the data exactly once, outside the claim loop
    val dirName = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
    val dataDir = new Path(rootP, s"data/$dirName")
    df.write.mode("overwrite").parquet(dataDir.toString)
    val fresh = f.listStatus(dataDir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(s => s"data/$dirName/${s.getPath.getName}").sorted.toVector

    def staleBase(base: Long): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"snapshot-table: a concurrent commit moved the table past " +
          s"version $base at $root — this merge/compact was derived " +
          s"from version $base and is stale; re-run it")
    var version = requireBase.map(_ + 1)
      .getOrElse(latestVersionIn(ms).getOrElse(0L) + 1)
    var claimed = false
    var tries = 0
    while (!claimed) {
      tries += 1
      require(tries <= maxClaimRetries,
        s"snapshot-table: lost the version claim $maxClaimRetries times at $root")
      if (ms.putIfAbsent(s"claim-$version", Array.emptyByteArray)) {
        // Winning the claim does NOT prove the table hasn't advanced:
        // vacuum deletes old claim files, so a recycled sub-floor slot
        // is claimable again — a slow writer would land a "successful"
        // version below the live manifest whose rows every reader
        // silently ignores (stress-spec-found: a merge based on v1
        // landed at a vacuumed slot 2 while the table was at v12).
        // Verify the slot is still AHEAD of the live manifest while the
        // claim is held; racers claiming above us must wait on this
        // claim before landing, so the check cannot go stale.
        val latestNow = latestVersionIn(ms).getOrElse(0L)
        if (latestNow < version) claimed = true
        else {
          ms.delete(s"claim-$version") // our claim, no manifest: safe release
          requireBase match {
            case Some(base) => staleBase(base)
            case None => version = latestNow + 1
          }
        }
      } else requireBase match {
        case Some(base) =>
          // Someone claimed our slot. A LANDED manifest at/above it, or a
          // live (fresh) claim, means a real racer: the rewrite no longer
          // covers the live table — retrying higher would shadow their
          // rows, so abort loudly. But an UNLANDED claim older than the
          // grace window is a crashed writer's debris: on a merge-only
          // table no appender ever comes along to void it, so aborting
          // here would wedge every future merge/compact until vacuum's
          // orphan sweep. Void the slot exactly like awaitLowerClaims
          // does (exactly one of {the writer's manifest, this void} wins
          // the O_EXCL land) and retry one slot up — a void is an empty
          // append, so a rewrite derived from `base` still covers the
          // live table content.
          val entries = ms.list()
          val landedMax = entries.iterator.map(_.name)
            .filter(_.startsWith("manifest-"))
            .map(_.stripPrefix("manifest-").toLong).foldLeft(-1L)(math.max)
          if (landedMax >= version) staleBase(base)
          val debris = entries.find(_.name == s"claim-$version")
            .filter(e =>
              System.currentTimeMillis() - e.mtimeMs >= claimGraceMs)
          if (debris.isEmpty) staleBase(base) // live claim (or released
          // between our create attempt and this listing: the racer is
          // active either way)
          val voidBody = manifestBody(version,
            carriedBelow(ms, root, version), void = true)
          if (!ms.putIfAbsent(s"manifest-$version",
              CommitStoreText.bytes(voidBody)))
            staleBase(base) // lost the void race: a manifest landed at our
          // slot first — real content (slow writer woke up) or another
          // merge's void; either way re-running re-derives and proceeds
          version += 1
        case None => // slot taken (genuine contention only — other IO
          // errors THROW rather than burning 20 slots hiding the cause)
          version = math.max(version + 1,
            latestVersionIn(ms).getOrElse(0L) + 1)
      }
    }
    // The claim is exclusive from here on. For append, the carried list
    // is only complete once every LOWER claim has landed its manifest: a
    // claimed-but-unlanded version K < ours holds files that would be
    // permanently excluded the moment our higher manifest lands — append
    // waits for those claims inside its callback; one older than
    // `claimGraceMs` with no manifest is a crashed writer (the
    // claim->land window is an empty create + tiny rename, normally
    // milliseconds) and its burned slot is skipped. Replace/merge carry
    // a fixed list, so late-landing lower versions are legitimately
    // shadowed by them.
    val base = carried(ms, version)
    val written = asNullable(df.schema).asInstanceOf[StructType]
    val body = manifestBody(version, Manifest(base.files ++ fresh,
      Some(written).filter(w => base.files.isEmpty || base.schema.contains(w))),
      void = false)
    // land WITHOUT overwrite: a concurrent appender that graced this
    // claim out has VOIDED the slot by landing an empty manifest here
    // (awaitLowerClaims) — overwriting it would let this commit return
    // "success" while every higher version already excludes its files
    // (silent data loss). Losing the race is a loud, retryable error.
    if (!ms.putIfAbsent(s"manifest-$version", CommitStoreText.bytes(body))) {
      val msg = s"snapshot-table: version $version was voided by a " +
        s"concurrent writer after the ${claimGraceMs / 1000}s claim grace " +
        s"window at $root — this commit did not land; retry the write"
      // same stale-rewrite outcome as losing the claim: merge/compact
      // callers contract on ConcurrentModificationException for their
      // retry loops; plain append/replace keeps the ISE (their retry is
      // unconditional anyway)
      if (requireBase.isDefined)
        throw new java.util.ConcurrentModificationException(msg)
      else throw new IllegalStateException(msg)
    }
    version
  }

  /** How long an unlanded lower claim may block an appender before it is
    * treated as a crashed writer and skipped. Protocol contract: a writer
    * must land its manifest OR refresh its claim (awaitLowerClaims
    * heartbeats while it waits) within this window (the land is an
    * in-memory JSON + rename — milliseconds in practice).
    *
    * Clock assumption: claim mtimes are stamped by the STORE (namenode /
    * local filesystem) but compared against the voider's LOCAL clock, so
    * the effective window is claimGraceMs ± the writer-to-store clock
    * skew. The default leaves ~50s of headroom over NTP-grade skew;
    * widen it on fleets with looser clocks — a too-short window voids
    * healthy writers (loud, retryable), it never loses data. */
  private[sinks] val claimGraceMs: Long = 60000L

  /** Block until every claim-K with K < version has a manifest. A claim
    * past the grace window is presumed crashed — but "skip it" alone is a
    * silent-loss race (the writer may be slow, not dead: it would land
    * AFTER our higher manifest excluded its files and report success).
    * Instead the slot is VOIDED by landing a carry-forward manifest
    * exclusively: exactly one of {the writer's manifest, our void} wins
    * the O_EXCL create, so either we carry its files or its own land
    * fails loudly (commitWith's no-overwrite rename). Claims resolve in
    * ASCENDING order, and a void carries the files of the highest landed
    * manifest below it — everything below is already resolved, so the
    * void behaves as an empty append and a reader at the void version
    * (or an appender carrying from it) sees the chain intact. */
  private def awaitLowerClaims(ms: CommitStore, root: String,
                               version: Long): Unit = {
    // ONE listing per poll: claims, landed manifests, and the mtimes all
    // come from the same snapshot — per-claim exists()/getFileStatus
    // round-trips would hammer the namenode 10×/s through a grace wait
    // AND race a concurrent vacuum deleting the very files being probed
    def pending(): Seq[(Long, Long)] = { // (k, mtime)
      val entries = ms.list()
      val landed = entries.iterator.map(_.name)
        .filter(_.startsWith("manifest-"))
        .map(_.stripPrefix("manifest-")).toSet
      // only claims STRICTLY BETWEEN the live manifest and our version
      // matter: a claim at or below the live manifest is shadowed
      // history — whatever its writer lands (or never lands) is already
      // superseded by the chain we carry, so waiting is pointless and
      // VOIDING it is harmful: after a vacuum trimmed that range, the
      // void would resurrect a sub-floor slot as a bogus empty version
      // (stress-spec-found). Landed voids count as manifests here, so
      // liveMax only ever moves forward within one wait.
      val liveMax = landed.map(_.toLong).foldLeft(0L)(math.max)
      entries.iterator.filter { e =>
        e.name.startsWith("claim-") && {
          val k = e.name.stripPrefix("claim-").toLong
          k > liveMax && k < version && !landed(e.name.stripPrefix("claim-"))
        }
      }.map(e => (e.name.stripPrefix("claim-").toLong, e.mtimeMs))
        .toSeq.sortBy(_._1)
    }
    var lastBeat = System.currentTimeMillis()
    var left = pending()
    while (left.nonEmpty) {
      val (k, mtime) = left.head // lowest first: voids carry a final chain
      if (System.currentTimeMillis() - mtime >= claimGraceMs) {
        val voidBody = manifestBody(k, carriedBelow(ms, root, k), void = true)
        // the void lands through the SAME atomic put-if-absent path as
        // a real manifest: a visible manifest is ALWAYS complete, and
        // a crash mid-void leaves at most store-side litter, never a
        // corrupt (or empty) manifest-k that would wedge later reads
        ms.putIfAbsent(s"manifest-$k", CommitStoreText.bytes(voidBody))
        // a lost land = the writer landed first; pending() drops it
      } else {
        // this wait consumes OUR OWN claim's grace budget: refresh the
        // claim's mtime (store-side clock) so a higher appender blocked
        // behind us never mistakes a live wait for a crash — without the
        // heartbeat, one crashed claim + two appenders deterministically
        // voids the live one
        val now = System.currentTimeMillis()
        if (now - lastBeat >= claimGraceMs / 12) {
          // mtime-only refresh through the store (CommitStore.touch):
          // the claim must never go unlisted mid-refresh, or a
          // concurrent appender's single listing snapshot sees neither
          // claim-N nor manifest-N, stops waiting on a live writer, and
          // lands a higher manifest that excludes its files — the very
          // silent-loss race the heartbeat closes.
          ms.touch(s"claim-$version")
          lastBeat = now
        }
        Thread.sleep(100)
      }
      left = pending()
    }
  }

  /** Versions with a manifest, ascending. Readers of a store-backed
    * table pass the same [[CommitStore]] its writers commit through. */
  def versions(spark: SparkSession, root: String,
               store: Option[CommitStore] = None): Seq[Long] =
    versionsIn(readStore(spark, root, store))

  /** The manifest store for READ paths: never scheme-guarded (reading a
    * flat object store through the FS facade is safe — listings and
    * gets need no atomicity; only COMMITS do). */
  private def readStore(spark: SparkSession, root: String,
                        store: Option[CommitStore]): CommitStore =
    store.getOrElse(HadoopCommitStore(spark, new Path(root)))

  private def versionsIn(ms: CommitStore): Seq[Long] =
    ms.list().map(_.name)
      .collect { case n if n.startsWith("manifest-") =>
        n.stripPrefix("manifest-").toLong }
      .sorted

  private def latestVersionIn(ms: CommitStore): Option[Long] =
    versionsIn(ms).lastOption

  private val manifestJson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Manifest `v`: its root-relative file paths and recorded schema. */
  private def manifestIn(ms: CommitStore, root: String, v: Long): Manifest = {
    val manifest = CommitStoreText.utf8(ms.read(s"manifest-$v"))
    // a visible manifest is complete under the protocol (landed by one
    // atomic put-if-absent) — anything else is corruption worth a clear
    // error
    def corrupt(why: String): Nothing =
      sys.error(s"snapshot-table: corrupt manifest-$v at $root " +
        s"($why; ${manifest.length} bytes)")
    val node =
      try manifestJson.readTree(manifest)
      catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          corrupt(e.getOriginalMessage)
      }
    val files = Option(node).map(_.get("files")).filter(f => f != null && f.isArray)
      .getOrElse(corrupt("no files field"))
    Manifest(
      (0 until files.size).map(files.get(_).asText).toVector,
      Option(node.get("schema")).map(s =>
        DataType.fromJson(s.asText).asInstanceOf[StructType]))
  }

  /** A parquet scan of root-relative `files`, with the manifest's schema
    * when it has one (no footer-inference job), else inferred. */
  private def scan(spark: SparkSession, root: String, files: Seq[String],
                   schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s))
      .parquet(files.map(n => new Path(root, n).toString): _*)

  /** The live version IS the highest manifest — no pointer file. */
  private def liveVersionIn(ms: CommitStore, root: String): Long =
    latestVersionIn(ms).getOrElse(
      sys.error(s"snapshot-table: no published version at $root"))

  /** Read the live snapshot (or a pinned `version` — time travel). Only
    * the manifest's exact file list is scanned: concurrent publishes and
    * crashed writers cannot tear the read. With a recorded schema,
    * building the read runs no Spark job. */
  def read(spark: SparkSession, root: String, version: Option[Long] = None,
           store: Option[CommitStore] = None): DataFrame = {
    val ms = readStore(spark, root, store)
    val v = version.getOrElse(liveVersionIn(ms, root))
    val m = manifestIn(ms, root, v)
    require(m.files.nonEmpty, s"snapshot-table: empty manifest $v at $root")
    scan(spark, root, m.files, m.schema)
  }

  /** Incremental consumption: only the files ADDED after `sinceVersion`
    * (up to `untilVersion`/live) — a downstream pipeline that processed
    * version N reads exactly the new data of N+1..M, never rescanning
    * the table. Files are immutable once published, so the manifest set
    * difference IS the change set (append-mode commits; a replace commit
    * shows up as its full file list, which is also correct). */
  def readChanges(spark: SparkSession, root: String, sinceVersion: Long,
                  untilVersion: Option[Long] = None,
                  store: Option[CommitStore] = None): DataFrame = {
    val ms = readStore(spark, root, store)
    val until = untilVersion.getOrElse(liveVersionIn(ms, root))
    val old = manifestIn(ms, root, sinceVersion).files.toSet
    val m = manifestIn(ms, root, until)
    val added = m.files.filterNot(old)
    if (added.isEmpty) read(spark, root, Some(until), store).limit(0)
    else scan(spark, root, added, m.schema)
  }

  /** Copy-on-write MERGE (upsert) by key — the warehouse-table half of
    * the reference's delete-then-insert refresh (data_processor_utils
    * .py:60) and JdbcSink's stage-then-MERGE, expressed on the snapshot
    * format itself: target rows whose key appears in `source` are
    * replaced by the source row; unmatched source rows insert. One
    * atomic commit publishes the result; every pre-merge version still
    * time-travels.
    *
    * Scale shape (the Delta/Iceberg CoW merge): only data files that
    * actually CONTAIN a matched key are rewritten. Finding them is one
    * key-columns-only scan (parquet column pruning: `ReadSchema` is the
    * key set + file name) semi-joined to the source keys; the file list
    * is collected (bounded by the manifest's file count, driver-held by
    * the protocol anyway). Untouched files are carried into the new
    * manifest VERBATIM — no rewrite, no copy — so a point upsert into a
    * 100 TB table rewrites the few files holding the matched keys, not
    * the table. The rewrite reads only the touched files, anti-joins
    * the source keys (the surviving remainder), and unions the whole
    * source.
    *
    * Contracts: `source` must be key-unique (two source rows with one
    * key would both land — same as a SQL MERGE with multiple matches)
    * and column-compatible with the table (unionByName). Replaying the
    * SAME source is idempotent (matched keys replace to the same rows),
    * which is exactly the property a foreachBatch streaming upsert
    * needs. SAFE ALONGSIDE APPENDERS: the commit is optimistic — it
    * must land at exactly readVersion+1, and if any other commit claims
    * that slot first the merge aborts with a loud
    * ConcurrentModificationException instead of landing a manifest
    * that silently excludes the racer's files (the pre-R15 shadowing
    * hazard). Re-run an aborted merge; its orphaned data dir is
    * vacuum-reclaimed. Returns the new version. */
  def merge(source: DataFrame, root: String, keys: Seq[String],
            store: Option[CommitStore] = None): Long = {
    require(keys.nonEmpty, "snapshot-table: merge needs at least one key")
    val spark = source.sparkSession
    val ms = manifestStore(spark, new Path(root), store) // guard before reads
    if (versionsIn(ms).isEmpty) return write(source, root, store = store)
    import org.apache.spark.sql.functions.{col, input_file_name}
    // the source plan feeds three consumers (touched-file probe,
    // remainder anti-join, commit write) — cache it for the merge's
    // duration or a non-trivial upstream (e.g. upsertBatch's window)
    // recomputes per consumer; a source the caller already cached stays
    // the caller's
    graft.PersistScope.within {
      val src = graft.PersistScope.cache(source)
      val live = liveVersionIn(ms, root)
      val liveM = manifestIn(ms, root, live)
      val files = liveM.files
      // No distinct: the semi and anti joins below ignore how often a key
      // repeats, so deduplicating the keys would only add an aggregate
      // and an exchange to both executions
      val srcKeys = src.select(keys.map(col): _*)
      // NULL-SAFE key equality (<=>) throughout: with plain equality a
      // null-keyed source row never matches its stored twin, so every
      // replay of the same batch would insert another copy — breaking
      // the idempotence contract upsertBatch depends on. Under <=>,
      // null keys match like values (the DISTINCT-semantics choice).
      def keyCond(l: DataFrame, r: DataFrame) =
        keys.map(k => l(k) <=> r(k)).reduce(_ && _)
      // one key-pruned scan to locate the files holding matched keys
      val keyed = scan(spark, root, files, liveM.schema)
        .select(keys.map(col) :+ input_file_name().as("__file"): _*)
      val touchedAbs = keyed
        .join(srcKeys, keyCond(keyed, srcKeys), "left_semi")
        .select("__file").distinct()
        .collect().map(_.getString(0)).toSet // bounded by the file count
      // input_file_name is a URI; match manifest entries by path suffix
      val touched = files.filter(n => touchedAbs.exists(_.endsWith("/" + n)))
      val untouched = files.filterNot(touched.toSet)
      val remainder =
        if (touched.isEmpty) src.limit(0)
        else {
          val t = scan(spark, root, touched, liveM.schema)
          t.join(srcKeys, keyCond(t, srcKeys), "left_anti")
        }
      commitWith(remainder.unionByName(src), root, maxClaimRetries = 20,
        requireBase = Some(live), store = store)(
        (_, _) => Manifest(untouched, liveM.schema))
    }
  }

  /** Rewrite the live snapshot's file set into size-targeted files and
    * land it as a REPLACE commit (version N+1) — the table maintenance
    * pass SURVEY §4 calls for: append-mode commits accrete small files
    * and ever-growing manifests, and compact resets both in one atomic
    * publish. Readers are never torn (it is an ordinary commit), every
    * pre-compact version still time-travels (manifests stay until
    * [[vacuum]]), and the superseded data directories are reclaimed by
    * the next vacuum once unreferenced.
    *
    * File count comes from the live snapshot's scan stats against
    * `targetFileMB` (the [[ParquetSink.compactPartitioned]] sizing
    * rule), and the scan is COALESCED to that count, not repartitioned:
    * no exchange, each byte is read once and written once. The scan
    * already packs the input files into partitions of at most
    * `spark.sql.files.maxPartitionBytes`, so while `targetFileMB` is at
    * least that (512 vs 128 MB by default) the count is at or below the
    * scan's partition count and each output task reads about
    * `targetFileMB`. With a smaller target, coalescing cannot split a
    * scan partition, so it writes fewer, larger files than the count.
    * SAFE ALONGSIDE APPENDERS, like [[merge]]: the rewrite is
    * derived from the live version it read, so the commit must land at
    * exactly that version + 1 — a concurrent commit on the same base
    * aborts the compact loudly (ConcurrentModificationException, re-run
    * at leisure) rather than letting the compacted snapshot silently
    * shadow the racer's rows. Returns the new version. */
  def compact(spark: SparkSession, root: String,
              targetFileMB: Int = 512,
              store: Option[CommitStore] = None): Long = {
    val ms = manifestStore(spark, new Path(root), store) // guard before reads
    val live = liveVersionIn(ms, root)
    val df = read(spark, root, Some(live), store)
    val sizeBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1L, (sizeBytes / (targetFileMB.toLong << 20)).toLong)
    commitWith(df.coalesce(nFiles.toInt), root, maxClaimRetries = 20,
      requireBase = Some(live), store = store)((_, _) => NoFiles)
  }

  /** Drop all but the newest `keep` manifests (the newest is the live
    * snapshot — it is always kept) and every data directory no
    * kept manifest references. Unreferenced dirs and burned claim slots
    * are reclaimed only after `orphanGraceMs` — an in-flight writer that
    * has written data but not yet claimed its manifest looks exactly
    * like a crashed one, and the grace period is what distinguishes
    * them (pass 0 only when no writer can be running). `keep >= 1`. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
             orphanGraceMs: Long = 24L * 3600 * 1000,
             store: Option[CommitStore] = None): Unit = {
    require(keep >= 1, "snapshot-table: keep >= 1")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val ms = manifestStore(spark, rootP, store)
    val all = versionsIn(ms)
    val kept = all.takeRight(keep)
    // append-mode manifests reference older versions' dirs: keep every
    // dir a KEPT manifest mentions, not just the kept version numbers
    val referenced = kept.flatMap(v => manifestIn(ms, root, v).files)
      .map(p => new Path(p).getParent.getName).toSet
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    all.filterNot(kept.contains).foreach { v =>
      // claim BEFORE manifest: the other order opens a window where a
      // concurrent appender's pending() sees claim-v with no manifest-v
      // (an ancient mtime, instantly past grace) and re-lands a VOID for
      // a version vacuum is deleting — resurrecting it in versions()
      ms.delete(s"claim-$v")
      ms.delete(s"manifest-$v")
    }
    // burned claims (slot taken, manifest never landed) and tmp litter
    // from crashed/voided lands (filesystem-backed stores only), both
    // only when older than grace
    ms.list().foreach { e =>
      val burned = e.name.startsWith("claim-") &&
        !all.contains(e.name.stripPrefix("claim-").toLong)
      if ((burned || e.name.startsWith(".tmp-")) && e.mtimeMs < cutoff)
        ms.delete(e.name)
    }
    val dataRoot = new Path(rootP, "data")
    if (f.exists(dataRoot)) f.listStatus(dataRoot).foreach { st =>
      if (!referenced.contains(st.getPath.getName) &&
          st.getModificationTime < cutoff)
        f.delete(st.getPath, true)
    }
  }
}
