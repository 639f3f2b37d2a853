package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Thrown when a commit LOSES an optimistic-concurrency race: another
  * writer published the same manifest version first. The loser's data
  * dir is unreferenced (writer-unique names — no surviving manifest
  * can point at it) and deleted best-effort; the store remains fully
  * readable at the winner's state. EVERY commit path is safe to
  * re-run from a fresh read — a lost maintenance pass
  * ([[BucketedLog.compactNow]], vacuum-style rewrites) simply
  * re-reads and re-transforms, and a lost [[BucketedLog.applyBatch]]
  * re-reads the new base and re-merges (the merge is a pure function
  * of (currentState, batch), so a rebase recomputes the right
  * result; the batch/txn watermark makes an already-landed replay a
  * no-op). [[BucketedLog.retrying]] packages that re-run loop;
  * writers that would rather treat a race as a deployment error
  * (single-stream ingest) just don't wrap. */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** The ONE log-structured bucketed-state machine — manifest protocol,
  * hash-bucketed version dirs, touched-bucket rewrite, amortized
  * compaction — shared by every operator that maintains a large
  * keyed state incrementally: [[SnapshotStore]] (CDC MERGE INTO),
  * [[AggView]] (incremental aggregate views), the zone-map and Bloom
  * skipping indexes (`ZoneMapIndex`, `MultiColZoneMapIndex`,
  * `IncrementalBloomIndex`), `DeletionVectors`, `InvertedIndex` and
  * `TermDictionary`. Factored out per the BucketScreen discipline: the
  * commit/eviction machinery lives in one place, operators supply
  * only their merge semantics.
  *
  * == Layout ==
  *
  * State under `dir` is bucket files tied together by a versioned
  * manifest:
  *
  *   - `data/v<j>-<nonce>/__bkt=<k>/` — bucket `k`'s state rows as
  *     of the batch that produced version `j`, hash-bucketed by
  *     `pmod(xxhash64(hashCols*), buckets)` and written via
  *     `partitionBy("__bkt")` so bucket reads are DIRECTORY-pruned
  *     (the bucket is a pure function of the key — recomputed, never
  *     trusted from data);
  *   - `_MANIFEST.v<j>` — one line per live bucket mapping it to the
  *     `;`-separated (relative) version dirs holding its current
  *     rows. Rewrite commits ([[applyBatch]]/[[rewriteBuckets]]/
  *     [[compactNow]]) leave exactly ONE dir per bucket; segment
  *     commits ([[appendBatch]]) APPEND dirs, and a bucket's rows
  *     are the UNION of its listed dirs' rows. Untouched buckets
  *     keep pointing at older dirs — that is the whole point.
  *
  * == Per-batch cost (the 100 TB argument) ==
  *
  * A batch touches only the buckets its keys hash to:
  * O(|batch| + touched-bucket rows) read + rewritten, never O(base).
  * With `buckets` sized so a bucket holds a few hundred MB (scale the
  * count with the corpus), a bounded batch costs bounded IO
  * regardless of state size — the `stream_merge_batch` probe pins
  * this flat against a 1×/2×/4× base. When the manifest references
  * more than `compactAfter` distinct dirs, the next apply folds
  * everything into ONE fresh version (amortized O(state)).
  *
  * == Commit protocol ==
  *
  * Write the new version dir, then a fresh `_MANIFEST.v<j>` (tmp file
  * + atomic rename to a NEW name), then delete superseded manifests
  * and unreferenced version dirs. Readers take the highest manifest
  * present, so a crash leaves either the old or the new state fully
  * intact. The four writers ([[applyBatch]], [[appendBatch]],
  * [[rewriteBuckets]], [[compactNow]]) share ONE implementation of
  * this, the private `commit`: each supplies only the rows it writes
  * into the new version dir and how the bucket → dirs map changes.
  * Three publishes keep their own order and share only the manifest
  * writer: [[init]] replaces the whole store (no base version to race
  * or sweep), [[evolveSchema]] writes no data dir and publishes its
  * manifest BEFORE its schema anchor (its doc says why), and
  * [[cloneTo]] publishes version 0 of a different store after a
  * distributed file copy.
  *
  * The manifest records the last APPLIED batch id (`#batch=`): a
  * crash-replayed micro-batch whose commit already
  * landed is skipped by id, making every fold EXACTLY-ONCE under
  * at-least-once delivery — including non-idempotent merges
  * ([[AggView]]'s additive state, where a re-applied batch would
  * otherwise double-count; spec-pinned in `AggViewSpec`).
  *
  * Versions are CONTIGUOUS: every commit — default-writer batches
  * included — targets `curVer + 1`, never a version derived from the
  * batch id. A batch-id-derived jump would let a concurrent named
  * writer or maintenance pass land at a DIFFERENT version in the
  * same race (put-if-absent collides only on equal names), silently
  * shadowing one commit instead of losing loudly; the batch id is
  * already recorded in `#batch=`, it need not name the version.
  *
  * == Multiple writers: per-writer txn watermarks ==
  *
  * `#batch=` is ONE scalar — correct for the single-stream contract,
  * but a second independent ingest stream whose batch ids trail the
  * first's would have its batches silently skipped by the shared
  * mark. [[applyBatch]] therefore takes an optional `writerId`: a
  * named writer's exactly-once guard is its OWN `#txn.<writerId>=`
  * manifest line (the Delta `txn`/appId discipline), advanced only
  * by that writer's commits and carried untouched by everyone
  * else's — N streams with independent batch-id sequences each get
  * exactly-once, and a crash-replay of any one stream is a no-op
  * regardless of how far the others advanced the version chain.
  * Named-writer commits leave `#batch=` unchanged (it remains the
  * default stream's coverage receipt).
  *
  * == Concurrent commits: loud losers, never silent loss ==
  *
  * Two writers racing from the same base version (a maintenance
  * [[compactNow]] against a live [[applyBatch]]) both target
  * `_MANIFEST.v<j>`. The commit is OPTIMISTIC-CONCURRENCY:
  *
  *   1. every writer's data dir is WRITER-UNIQUE (`v<j>-<nonce>`),
  *      so no manifest can ever reference another writer's data —
  *      the loser's dir is structurally orphaned, never aliased;
  *   2. the manifest publish is put-if-absent: an existing
  *      `_MANIFEST.v<j>` with different bytes throws
  *      [[ConcurrentCommitException]] before any rename;
  *   3. after the rename the writer RE-READS the manifest and
  *      requires it byte-identical to what it produced — a loser
  *      whose rename was replaced in a photo finish also throws.
  *
  * The loser deletes its orphan dir and surfaces the exception; the
  * winner's state is fully readable throughout. Because every commit
  * path re-reads the manifest at entry and the merge/transform is a
  * pure function of what it read, a loser can always REBASE by
  * simply re-running — [[retrying]] wraps any commit in that loop
  * (bounded attempts, linear backoff), turning the loud loss into
  * Delta-style re-check-and-retry for writers that want liveness
  * over fail-fast. The publish step is a TRUE put-if-absent on
  * every filesystem: HDFS rename is natively no-overwrite, object
  * stores map it to conditional put, and on a local FS the publish
  * is a `link(2)` (atomic, EEXIST on collision) because POSIX
  * rename REPLACES silently — a double-rename photo finish would
  * otherwise let BOTH racers pass their verify and the first's
  * cleanup sweep the second's referenced data dir (found by the
  * q238 gate under load; spec-forced in
  * `BucketedLogConcurrencySpec`).
  * Reference anchor: the reference serializes UID allocation with an
  * HBase RowLock + double-checked re-read for the same reason
  * (`/root/reference/marketdb-core/src/main/scala/com/ergodicity/marketdb/uid/UIDProvider.scala:267-336`).
  *
  * == Time travel ==
  *
  * With `retain = true` nothing is ever deleted: every version's
  * manifest stays readable, and because untouched buckets point
  * BACKWARD at older dirs, manifest `j` IS the full snapshot as of
  * version `j` — [[readAt]] serves any historical version with zero
  * extra storage beyond the per-batch deltas already written (the
  * Delta/Iceberg time-travel contract). Storage grows
  * O(Σ touched buckets); call [[vacuum]] to drop history older than
  * a floor version once it is out of audit scope.
  *
  * == Manifest checkpointing: O(1) hot-path discovery ==
  *
  * A retained store committing once a minute accumulates ~0.5 M
  * manifest files a year; a flat layout makes EVERY read pay an
  * O(versions) directory listing just to find the newest manifest
  * (the problem Delta's `_last_checkpoint` solves). Here the listing
  * stays BOUNDED by construction:
  *
  *   - data dirs live under `data/` — never siblings of the
  *     manifests (entry values are relative paths, so readers are
  *     agnostic);
  *   - once more than `checkpointEvery` manifests sit at the top
  *     level, the next commit FOLDS all but the newest into one
  *     immutable segment file `_history/_CHECKPOINT.v<lo>-<hi>`
  *     (the folded manifests' texts, verbatim, one `!version=`
  *     block each) and deletes the folded files.
  *
  * Top-level children are then ≤ checkpointEvery manifests + `data/`
  * + `_history/` + schema anchors, independent of total version
  * count — [[read]]'s discovery is a flat-latency listing plus ONE
  * manifest parse (the `checkpoint_read` probe pins this at 10×/100×
  * version counts). [[readAt]] below the fold floor is the rare
  * audit path: it lists `_history/` (O(versions/checkpointEvery)
  * segment files) and parses the one segment covering the target
  * version (O(checkpointEvery) blocks). Each manifest is folded into
  * exactly one segment over the store's lifetime — O(history) total
  * checkpoint IO, not O(history²). Segment publish reuses the
  * put-if-absent + byte-verify commit; a lost or crashed fold leaves
  * the manifests in place and the next commit re-folds (overlapping
  * segments carry byte-identical blocks, readers take any).
  *
  * Reference anchor: the reference's point-upsert store commits each
  * batch through one HBase put per row
  * (`/root/reference/marketdb-core/src/main/scala/com/ergodicity/marketdb/core/MarketDb.scala:103-133`);
  * here the same contract is a bucketed parquet log + manifest. */
final case class BucketedLog(dir: String, hashCols: Seq[String],
    buckets: Int, compactAfter: Int = 16, retain: Boolean = false,
    checkpointEvery: Int = 64) {
  import BucketedLog.Head

  private val BktCol = "__bkt"
  private val ManifestName = """_MANIFEST\.v(\d{19})""".r
  private val ManifestTmp = """_MANIFEST\.v(\d{19})\.tmp\..*""".r
  private val SegmentName = """_CHECKPOINT\.v(\d{19})-(\d{19})""".r
  // no leading underscore (Spark warns on underscore-rooted reads);
  // excluded from cleanup/vacuum by name: those only touch `v*` dirs
  // and `_MANIFEST*` files
  private val SchemaName = """schema\.v(\d{19})""".r

  private def manifestFile(version: Long): String =
    f"_MANIFEST.v$version%019d"

  private def schemaDir(version: Long): String =
    f"schema.v$version%019d"

  /** The bucket of a row — a pure function of the key columns. */
  def bkt: Column =
    pmod(xxhash64(hashCols.map(col): _*), lit(buckets.toLong))

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Writer ids name `#txn.<id>=` manifest lines — restricted so an
    * adversarial id (newline: splits the line, later parses throw;
    * leading space or '=': round-trips surprisingly via the
    * trim/lastIndexOf parse) can never corrupt the manifest. */
  private def requireWriterId(writerId: String): Unit =
    require(writerId.matches("[A-Za-z0-9_.-]*"),
      s"writerId must match [A-Za-z0-9_.-]*: '$writerId'")

  private def allManifests(f: FileSystem): Seq[(Long, Path)] = {
    val d = new Path(dir)
    if (!f.exists(d)) return Seq.empty
    f.listStatus(d).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(v) => Some((v.toLong, st.getPath))
        case _ => None
      }
    }
  }

  private def segmentFile(lo: Long, hi: Long): String =
    f"_history/_CHECKPOINT.v$lo%019d-$hi%019d"

  private def allSegments(f: FileSystem): Seq[(Long, Long, Path)] = {
    val h = new Path(s"$dir/_history")
    if (!f.exists(h)) return Seq.empty
    f.listStatus(h).toSeq.flatMap { st =>
      st.getPath.getName match {
        case SegmentName(lo, hi) => Some((lo.toLong, hi.toLong, st.getPath))
        case _ => None
      }
    }
  }

  /** A segment's (version, manifestText) blocks — folded manifests
    * verbatim, one `!version=` header each. */
  private def parseSegment(f: FileSystem, path: Path): Seq[(Long, String)] = {
    val text = new String(readBytes(f, path), "UTF-8")
    val blocks =
      scala.collection.mutable.ArrayBuffer.empty[(Long, StringBuilder)]
    text.linesIterator.foreach { l =>
      if (l.startsWith("!version="))
        blocks += ((l.drop("!version=".length).toLong, new StringBuilder))
      else if (blocks.nonEmpty) {
        val b = blocks.last._2
        if (b.nonEmpty) b.append('\n')
        b.append(l)
      }
    }
    blocks.toSeq.map { case (v, b) => (v, b.toString) }
  }

  /** Fold all top-level manifests but the newest into one immutable
    * `_history` segment once more than `checkpointEvery` accumulate
    * (class doc) — keeps hot-path discovery listing BOUNDED on
    * retained stores. Best-effort maintenance: a lost race or crash
    * leaves the manifests in place and the next commit re-folds. */
  private def maybeCheckpoint(f: FileSystem): Unit = {
    if (!retain) return
    val manifests = allManifests(f).sortBy(_._1)
    if (manifests.size <= checkpointEvery) return
    val fold = manifests.dropRight(1) // the newest stays at top level
    val body = fold.map { case (v, p) =>
      s"!version=$v\n" + new String(readBytes(f, p), "UTF-8")
    }.mkString("\n").getBytes("UTF-8")
    val dst = new Path(s"$dir/${segmentFile(fold.head._1, fold.last._1)}")
    if (f.exists(dst)) {
      // same name ⇒ same folded set ⇒ identical bytes (manifests are
      // immutable); anything else is alien — keep the manifests
      if (!java.util.Arrays.equals(readBytes(f, dst), body)) return
    } else {
      val tmp = new Path(s"$dir/_history/.tmp.${newNonce()}")
      val out = f.create(tmp, true)
      try out.write(body) finally out.close()
      f.rename(tmp, dst)
      if (!java.util.Arrays.equals(readBytes(f, dst), body)) return
    }
    // archived and verified: the folded files can go
    fold.foreach { case (_, p) => f.delete(p, false) }
  }

  /** THE manifest parser. The `#batch=` header is the EXACTLY-ONCE
    * guard: a crash-replayed micro-batch (foreachBatch re-runs a batch
    * whose commit beat the engine checkpoint) is skipped by id, so
    * even NON-idempotent merges (AggView's additive fold) stay exact
    * under at-least-once delivery. `#txn.<writerId>=<batchId>` lines
    * are the named writers' marks (absent on pre-txn stores). */
  private def parse(version: Long, text: String): Head = {
    var lastBatch = -1L
    val txns = scala.collection.mutable.Map.empty[String, Long]
    val entries = text.linesIterator.map(_.trim).filter(_.nonEmpty)
      .flatMap { l =>
        if (l.startsWith("#batch=")) {
          lastBatch = l.drop("#batch=".length).toLong; None
        } else if (l.startsWith("#txn.")) {
          val body = l.drop("#txn.".length)
          val i = body.lastIndexOf('=')
          txns(body.take(i)) = body.drop(i + 1).toLong; None
        } else {
          // `;`-separated segment dirs (single-dir lines — every
          // rewrite commit and all pre-segment manifests — parse as
          // a one-element list, so old stores read unchanged)
          val i = l.indexOf('=')
          Some((l.take(i).toInt, l.drop(i + 1).split(';').toSeq))
        }
      }.toMap
    Head(version, lastBatch, txns.toMap, entries)
  }

  private def readHead(f: FileSystem, version: Long, path: Path): Head =
    parse(version, new String(readBytes(f, path), "UTF-8"))

  /** The head manifest (highest version wins); None before the first
    * commit. */
  private[graft] def head(spark: SparkSession): Option[Head] = {
    val f = fs(spark)
    allManifests(f).maxByOption(_._1).map { case (v, p) => readHead(f, v, p) }
  }

  /** A named writer's exactly-once watermark: the highest batch id it
    * has committed (−1 before its first commit). */
  def txnWatermark(spark: SparkSession, writerId: String): Long = {
    require(writerId.nonEmpty, "txnWatermark: empty writerId")
    requireWriterId(writerId)
    head(spark).fold(-1L)(_.txns.getOrElse(writerId, -1L))
  }

  /** Highest manifest with version ≤ `asOf` (time travel; requires
    * `retain` — vacuumed history is an error, not a silent newer
    * snapshot). Falls back to the `_history` checkpoint segments
    * below the fold floor: the covering segment(s) plus the highest
    * segment entirely below `asOf` (the union is exact even when a
    * crashed fold left overlapping segments — overlapping blocks are
    * byte-identical). */
  private def headAt(spark: SparkSession, asOf: Long): Option[Head] = {
    val f = fs(spark)
    def resolve(): Option[Head] = {
      val top = allManifests(f).filter(_._1 <= asOf)
      if (top.nonEmpty) {
        val (version, path) = top.maxBy(_._1)
        return Some(readHead(f, version, path))
      }
      val segs = allSegments(f).filter(_._1 <= asOf)
      val toParse = (segs.filter(_._2 >= asOf) ++
        segs.filter(_._2 < asOf).sortBy(_._2).lastOption).distinct
      toParse.iterator
        .flatMap { case (_, _, p) => parseSegment(f, p) }
        .filter(_._1 <= asOf).maxByOption(_._1)
        .map { case (v, text) => parse(v, text) }
    }
    // a concurrent checkpoint fold can delete a manifest between this
    // reader's listing and its parse — the content is already in a
    // segment by then, so one fresh resolution finds it
    try resolve()
    catch { case _: java.io.FileNotFoundException => resolve() }
  }

  /** A writer-unique commit nonce — names this writer's data dir and
    * manifest tmp file so concurrent writers can never alias each
    * other's in-flight artifacts. */
  private def newNonce(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Classify a failure inside a commit's read-merge-write span: on a
    * NON-retained store a concurrent winner's cleanup can delete the
    * superseded base dirs this writer is still LAZILY reading, so the
    * job dies with an IO error instead of losing the manifest race.
    * If the manifest moved past the version this commit based on, the
    * failure IS a lost race — surface it as the retryable
    * [[ConcurrentCommitException]] (cause attached; a caller bug that
    * merely coincided with a race re-fails identically on the rebase
    * and exhausts the retry loop loudly). Otherwise rethrow as-is. */
  private def raceOrRethrow(f: FileSystem, basedOn: Long,
      e: Throwable): Nothing = {
    val nowVer = allManifests(f).map(_._1).maxOption.getOrElse(-1L)
    if (nowVer > basedOn) {
      val ex = new ConcurrentCommitException(
        s"commit based on version $basedOn failed after a concurrent " +
          s"writer advanced the store to $nowVer; re-run to rebase")
      ex.initCause(e)
      throw ex
    }
    throw e
  }

  private def readBytes(f: FileSystem, path: Path): Array[Byte] = {
    val in = f.open(path)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Optimistic-concurrency publish of `h` as `_MANIFEST.v<h.version>`
    * (class doc): put-if-absent + post-rename byte-verify. Throws
    * [[ConcurrentCommitException]] when another writer's manifest of
    * that version wins — the caller's data dir is orphaned by
    * construction (writer-unique name) and should be deleted. */
  private def writeManifest(f: FileSystem, h: Head, nonce: String): Unit = {
    val version = h.version
    val body = (s"#batch=${h.lastBatch}" +:
      (h.txns.toSeq.sortBy(_._1).map { case (w, b) => s"#txn.$w=$b" } ++
        h.entries.toSeq.sortBy(_._1).map { case (k, v) =>
          s"$k=${v.mkString(";")}" }))
      .mkString("\n").getBytes("UTF-8")
    val dst = new Path(s"$dir/${manifestFile(version)}")
    def verify(who: String): Unit =
      if (!java.util.Arrays.equals(readBytes(f, dst), body))
        throw new ConcurrentCommitException(
          s"lost commit race on $dst ($who): another writer published " +
            s"version $version first; this writer's state is orphaned, " +
            "the store is intact at the winner's state")
    // pre-existing dst with IDENTICAL bytes = a replay of this very
    // commit crashed after its rename — keep it; different bytes = a
    // concurrent writer won this version
    if (f.exists(dst)) { verify("pre-publish"); return }
    val tmp = new Path(s"$dir/${manifestFile(version)}.tmp.$nonce")
    val out = f.create(tmp, true)
    try out.write(body) finally out.close()
    // TRUE put-if-absent publish. POSIX rename REPLACES an existing
    // dst silently, so two racers can EACH pass a rename-then-verify
    // (Y checks absent → X publishes and verifies → Y's rename
    // replaces X's manifest → Y verifies its own bytes): both think
    // they won, and the first's cleanup then sweeps the second's
    // referenced data dir — a dangling head no rebase can repair
    // (the q238 race). link(2) is the atomic no-overwrite primitive
    // on a local FS (EEXIST when a rival's dst landed first); HDFS
    // rename is natively no-overwrite, object stores map this to
    // conditional put.
    val scheme = Option(f.makeQualified(dst).toUri.getScheme)
    if (scheme.contains("file")) {
      val tmpLocal = java.nio.file.Paths.get(f.makeQualified(tmp).toUri)
      val dstLocal = java.nio.file.Paths.get(f.makeQualified(dst).toUri)
      try java.nio.file.Files.createLink(dstLocal, tmpLocal)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
        // racing publishes on other providers surface at verify
        case _: UnsupportedOperationException => f.rename(tmp, dst)
      }
      f.delete(tmp, false)
    } else f.rename(tmp, dst)
    // double-checked re-read: the loser of the link race (or of a
    // non-CAS rename on exotic filesystems) must detect and fail loud
    verify("post-publish")
  }

  private def cleanup(f: FileSystem, cur: Long,
      entries: Map[Int, Seq[String]]): Unit = {
    if (retain) return
    val live = entries.values.flatten.toSet
    f.listStatus(new Path(dir)).foreach { st =>
      st.getPath.getName match {
        case ManifestName(v) if v.toLong < cur => f.delete(st.getPath, false)
        // a crashed writer's manifest tmp: stale once its version is
        // superseded (an in-flight racer always targets ≥ cur)
        case ManifestTmp(v) if v.toLong < cur => f.delete(st.getPath, false)
        case _ => ()
      }
    }
    deleteDeadDataDirs(f, live, cur)
  }

  /** Newest modification time under `p` (bounded recursive walk): a
    * LIVE Spark write lands files under nested `_temporary/` subdirs,
    * which does NOT refresh the top-level dir's mtime — sweep grace
    * must key on the deepest activity, or a merge+write phase longer
    * than the grace would have its in-flight dir swept out from under
    * it (repeated rebase retries, potential livelock for consistently
    * long jobs). Only called once the CHEAP top-level check already
    * exceeded the grace, so the walk never sits on the hot path.
    * A path that vanishes mid-walk (a live writer renamed its `.tmp`
    * final, or a racing cleanup already swept it) answers
    * `Long.MaxValue` — "fresh", skip the sweep — rather than letting
    * the FileNotFoundException propagate out of a cleanup that runs
    * AFTER a successful publish (a committed batch must never
    * surface as a spurious failure over another writer's rename). */
  private def newestMtime(f: FileSystem, p: Path, depth: Int = 8): Long =
    try {
      val st = f.getFileStatus(p)
      var newest = st.getModificationTime
      if (st.isDirectory && depth > 0)
        f.listStatus(p).foreach { c =>
          newest = math.max(newest,
            if (c.isDirectory) newestMtime(f, c.getPath, depth - 1)
            else c.getModificationTime)
        }
      newest
    } catch { case _: java.io.FileNotFoundException => Long.MaxValue }

  private val DataDirVersion = """v(\d{1,19})(?:-.*)?""".r

  /** Delete every `data/v*` dir `live` does not reference (the loser/
    * superseded sweep shared by [[cleanup]] and [[vacuum]]), BOUNDED
    * by `asOf` — the manifest version `live` was derived from.
    *
    * The version bound is load-bearing: a dir named `v<j>` with
    * `j > asOf` belongs to a CONCURRENT writer this sweeper never
    * saw — one that renamed its dir final and is about to publish
    * (or already published) manifest `j`. Judging it against this
    * sweeper's older entry set would delete a dir a HIGHER manifest
    * references, leaving the store's head dangling (a reader then
    * dies with PATH_NOT_FOUND and no rebase can save it — the q238
    * race found exactly this). Dirs versioned `≤ asOf` that manifest
    * `asOf` does not reference are dead FOREVER: future manifests
    * only carry entries forward from `asOf`'s (contiguous versions,
    * every commit based on the head), plus their own strictly-newer
    * dirs — so the sweep is safe exactly up to its own version and
    * no further. An orphaned higher dir (its writer crashed before
    * publishing) is swept later, by the first cleanup whose version
    * reaches it.
    *
    * `.tmp` dirs are IN-FLIGHT writes (the write-then-rename
    * protocol: a dir gets its final name only once its content is
    * complete) — sweeping one mid-write would fail the writer's
    * tasks with an unretryable IO error instead of a loud commit
    * loss, so they are spared unless old enough to be a crashed
    * writer's litter ([[BucketedLog.SweepGraceMs]], keyed on the
    * NEWEST mtime anywhere under the dir — see [[newestMtime]]). */
  private def deleteDeadDataDirs(f: FileSystem, live: Set[String],
      asOf: Long): Unit = {
    val d = new Path(s"$dir/data")
    if (!f.exists(d)) return
    val now = System.currentTimeMillis()
    f.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v")) {
        if (!n.endsWith(".tmp")) {
          val ver = n match {
            case DataDirVersion(v) => v.toLong
            case _ => Long.MaxValue
          }
          if (ver <= asOf && !live.contains(s"data/$n"))
            f.delete(st.getPath, true)
        } else if (now - st.getModificationTime > BucketedLog.SweepGraceMs
            && now - newestMtime(f, st.getPath) > BucketedLog.SweepGraceMs)
          f.delete(st.getPath, true)
      }
    }
  }

  /** Drop retained history strictly older than `keepFrom`: delete
    * manifests `< keepFrom` (top-level files AND checkpoint-segment
    * blocks — whole segments below the floor are deleted, the
    * boundary segment is rewritten without its dropped blocks) and
    * any version dir no surviving manifest references. The oldest
    * surviving manifest still serves every bucket (its entries point
    * at dirs the deletion spares). Refuses a floor that would drop
    * the newest top-level manifest (the current state). A no-op
    * vacuum (nothing below the floor) is decided from NAMES alone —
    * segment files encode their folded version range, so the
    * repeated-vacuum hot path parses nothing. */
  def vacuum(spark: SparkSession, keepFrom: Long): Unit = {
    val f = fs(spark)
    val manifests = allManifests(f)
    val (drop, keep) = manifests.partition(_._1 < keepFrom)
    if (keep.isEmpty) return
    val segNames = allSegments(f)
    // a segment's name lo IS its minimum folded version: the
    // below-floor check needs no content parse
    val segDrop = segNames.exists(_._1 < keepFrom)
    if (drop.isEmpty && !segDrop) return
    val segs = segNames.map { case (lo, hi, p) =>
      (lo, hi, p, parseSegment(f, p)) }
    val keptBlocks = segs.flatMap(_._4).filter(_._1 >= keepFrom)
    val live = (keep.map { case (v, p) => readHead(f, v, p) } ++
      keptBlocks.map { case (v, t) => parse(v, t) })
      .flatMap(_.entries.values.flatten).toSet
    drop.foreach { case (_, p) => f.delete(p, false) }
    segs.foreach { case (_, _, p, blocks) =>
      val (dead, alive) = blocks.partition(_._1 < keepFrom)
      if (dead.nonEmpty) {
        if (alive.nonEmpty) {
          // rewrite the boundary segment under its narrowed range
          val body = alive.map { case (v, t) => s"!version=$v\n$t" }
            .mkString("\n").getBytes("UTF-8")
          val nd = new Path(
            s"$dir/${segmentFile(alive.map(_._1).min, alive.map(_._1).max)}")
          val tmp = new Path(s"$dir/_history/.tmp.${newNonce()}")
          val out = f.create(tmp, true)
          try out.write(body) finally out.close()
          if (nd != p) { f.rename(tmp, nd); f.delete(p, false) }
          else { f.delete(p, false); f.rename(tmp, nd) }
        } else f.delete(p, false)
      }
    }
    // the sweep bound: live derives from the manifests kept at this
    // vacuum's read — a CONCURRENT commit lands at a higher version
    // and its dirs must survive this sweep (deleteDeadDataDirs doc)
    val asOf = keep.map(_._1).max
    f.listStatus(new Path(dir)).foreach { st =>
      st.getPath.getName match {
        // crashed writers' manifest tmps: stale once below the floor
        case ManifestTmp(v) if v.toLong < keepFrom =>
          f.delete(st.getPath, false)
        case n if n.startsWith("v") && !n.endsWith(".tmp") &&
            !live.contains(n) && !n.startsWith("_") &&
            (n match {
              case DataDirVersion(v) => v.toLong <= asOf
              case _ => false
            }) =>
          f.delete(st.getPath, true)
        case _ => ()
      }
    }
    // crashed segment-fold tmps (no version of their own — any live
    // fold simply re-runs; a racing fold's rename then fails loud)
    val hist = new Path(s"$dir/_history")
    if (f.exists(hist)) f.listStatus(hist).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp.")) f.delete(st.getPath, false)
    }
    deleteDeadDataDirs(f, live, asOf)
  }

  /** State rows of `which` buckets (all if None), each read from its
    * manifest-pointed version dir(s) with directory-level partition
    * pruning on `__bkt`, ALIGNED to `target` — the schema anchor in
    * force at the version being read. A bucket's rows are the UNION
    * over its listed dirs (one for rewrite commits, ≤ compactAfter
    * segments for [[appendBatch]] stores). Dirs written before an
    * add-column evolution lack the added columns; they read back
    * null-filled (`unionByName(allowMissingColumns)` semantics,
    * expressed as an explicit typed projection so column ORDER is the
    * anchor's, not the write order's). */
  private def stateRows(spark: SparkSession, entries: Map[Int, Seq[String]],
      which: Option[Set[Int]],
      target: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val wanted = which.fold(entries)(w =>
      entries.view.filterKeys(w).toMap)
    // invert to dir -> buckets-reading-it: one pruned scan per dir, a
    // bucket's rows included exactly where its entry lists the dir.
    // The read schema is the anchor's, passed EXPLICITLY so no scan
    // pays footer-based schema inference (pre-evolution files lacking
    // an added column read it back null under a user-supplied schema —
    // the same unionByName(allowMissingColumns) semantics as before,
    // now without the per-dir footer round-trip)
    val readSchema = org.apache.spark.sql.types.StructType(
      target.fields :+ org.apache.spark.sql.types.StructField(BktCol,
        org.apache.spark.sql.types.IntegerType))
    val outCols = target.fields.toSeq.map(f => col(f.name))
    val parts = wanted.toSeq
      .flatMap { case (b, dirs) => dirs.map(d => (d, b)) }
      .groupBy(_._1).map { case (vdir, bs) =>
        spark.read.schema(readSchema).parquet(s"$dir/$vdir")
          .where(col(BktCol).isin(bs.map(x => Integer.valueOf(x._2)): _*))
          .select(outCols: _*)
      }.toSeq
    parts.reduceOption(_.unionByName(_))
  }

  /** Bucket-aligned version-dir write (round-18, guide §6): hash-
    * repartition by `__bkt` into min(buckets, defaultParallelism)
    * partitions before the `partitionBy` write, so (a) each bucket's
    * rows land in exactly ONE file per commit at ANY scale — without
    * the repartition every shuffle task of a large batch opens a
    * writer into every bucket dir it sees (N tasks × buckets files
    * per commit, the many-small-files trap; the Iceberg hash
    * write-distribution argument), and (b) the file creation
    * parallelizes across tasks instead of one AQE-coalesced task
    * writing every bucket file sequentially. In traced perfbench
    * `tick_ingest` (seed 31, `local[2]` on a 4-core box, an 8-bucket
    * AggView) this write is ~540 ms of a ~770 ms commit: its jobs
    * take ~350 ms, planning and AQE re-planning between them ~250 ms.
    * A one-task write (`n = 1`) measured no better than two tasks at
    * `local[2]` (ratio 0.946 over 4 paired runs, 3 wins: noise).
    * REPARTITION_BY_NUM is exempt from AQE coalescing, so the layout
    * holds under `parallelismFirst=false`. */
  private def writeBucketed(df: DataFrame, dest: String): Unit = {
    val n = math.max(1, math.min(buckets,
      df.sparkSession.sparkContext.defaultParallelism))
    df.withColumn(BktCol, bkt)
      .repartition(n, col(BktCol))
      .write.mode("overwrite").partitionBy(BktCol).parquet(dest)
  }

  /** Buckets present in a just-written version dir — a driver FS
    * listing of the `__bkt=` subdirs, no data read. */
  private def writtenBuckets(f: FileSystem, vdir: String): Seq[Int] =
    f.listStatus(new Path(s"$dir/$vdir")).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(s"$BktCol="))
        Some(n.drop(BktCol.length + 1).toInt)
      else None
    }

  private def listFilesUnder(f: FileSystem, p: Path): Seq[Path] = {
    if (!f.exists(p)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    val it = f.listFiles(p, true)
    while (it.hasNext) out += it.next().getPath
    out.toSeq
  }

  /** DEEP CLONE — a self-contained copy of the store's CURRENT state
    * at `dst` (the Delta CLONE discipline: sandboxing, migration,
    * fork-for-experiment). Every bucket dir the head manifest
    * references is file-copied VERBATIM into the clone (bucket and
    * segment layout preserved — no decode/re-encode, no shuffle; one
    * clone dir per distinct referenced source dir), the schema anchor
    * in force rides along, and a fresh version-0 manifest is
    * published. The byte copy runs as an EXECUTOR JOB over the file
    * list (the driver enumerates FS metadata only) — at 100 TB a
    * driver-side loop serializes days of IO through one NIC; Delta's
    * CLONE is distributed for the same reason. History does NOT
    * travel (a clone is the snapshot, not the log), and the
    * batch/txn watermarks RESET — the clone is a new store with its
    * own stream identities, not a resumption of the source's. The
    * two stores then evolve fully independently. Refuses a `dst`
    * equal to or nested with the source dir (the clone starts by
    * clearing `dst` — aliasing would destroy the source). */
  def cloneTo(spark: SparkSession, dst: String): BucketedLog = {
    val f = fs(spark)
    val srcQ = f.makeQualified(new Path(dir)).toString
    val dstQ = f.makeQualified(new Path(dst)).toString
    require(dstQ != srcQ && !dstQ.startsWith(srcQ + "/") &&
      !srcQ.startsWith(dstQ + "/"),
      s"cloneTo: dst must not equal or nest with the source store " +
        s"(src=$srcQ, dst=$dstQ) — the clone starts by clearing dst")
    val src = head(spark)
      .getOrElse(sys.error(s"BucketedLog.cloneTo before init: $dir"))
    val entries = src.entries
    val clone = BucketedLog(dst, hashCols, buckets, compactAfter,
      retain, checkpointEvery)
    f.delete(new Path(dst), true)
    // one clone dir per distinct referenced source dir, so segment
    // structure (and the verbatim-bytes contract) survives the copy
    val cloneDirOf: Map[String, String] = entries.values.flatten.toSeq
      .distinct.sorted.zipWithIndex
      .map { case (d, i) => d -> s"data/v0-$i" }.toMap
    // driver: metadata-only enumeration of (src, dst) file pairs
    val pairs: Seq[(String, String)] = entries.toSeq.flatMap {
      case (b, dirs) => dirs.flatMap { d =>
        val root = new Path(s"$dir/$d/$BktCol=$b")
        val rootQ = f.makeQualified(root).toString
        listFilesUnder(f, root).map { file =>
          val rel = f.makeQualified(file).toString
            .stripPrefix(rootQ).stripPrefix("/")
          (file.toString, s"$dst/${cloneDirOf(d)}/$BktCol=$b/$rel")
        }
      }
    }
    if (pairs.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val confProps = spark.sparkContext.hadoopConfiguration
        .iterator().asScala.map(e => (e.getKey, e.getValue)).toSeq
      val slices = math.max(1,
        math.min(pairs.size, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(pairs, slices).foreachPartition {
        (it: Iterator[(String, String)]) =>
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confProps.foreach { case (k, v) => conf.set(k, v) }
          it.foreach { case (s, d) =>
            val sp = new Path(s); val dp = new Path(d)
            org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(conf), sp,
              dp.getFileSystem(conf), dp, false, true, conf)
          }
      }
    }
    val anchor = allSchemaAnchors(f).filter(_._1 <= src.version)
      .maxByOption(_._1)
      .getOrElse(sys.error(s"BucketedLog.cloneTo: no schema anchor ≤ " +
        s"${src.version} under $dir"))._2
    org.apache.hadoop.fs.FileUtil.copy(f, anchor,
      f, new Path(s"$dst/${schemaDir(0L)}"), false, false,
      spark.sparkContext.hadoopConfiguration)
    clone.writeManifest(f, Head(0L, -1L, Map.empty,
      entries.map { case (b, dirs) => b -> dirs.map(cloneDirOf) }),
      newNonce())
    clone
  }

  /** Seed version 0 from full initial state (full write — done once;
    * every later batch rewrites only touched buckets). Also anchors
    * the state SCHEMA in a versioned `schema.v*` anchor (zero-row parquet footer) so a
    * state whose every bucket later empties — a full retraction —
    * reads back as the EMPTY frame instead of an error. */
  def init(state: DataFrame): Unit = {
    val spark = state.sparkSession
    val f = fs(spark)
    f.delete(new Path(dir), true)
    val vdir = "data/v0"
    writeBucketed(state, s"$dir/$vdir")
    writeAnchor(state, 0L)
    writeManifest(f, Head(0L, -1L, Map.empty,
      writtenBuckets(f, vdir).map(_ -> Seq(vdir)).toMap), newNonce())
  }

  /** Anchor `state`'s schema at `version` (a zero-row parquet dir). */
  private def writeAnchor(state: DataFrame, version: Long): Unit =
    state.limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/${schemaDir(version)}")

  /** The typed EMPTY state as of `version` — the highest `schema.v*`
    * anchor ≤ `version` (underscore-prefixed: invisible to cleanup/
    * vacuum, which only touch `v*` dirs and manifests). Anchors are
    * VERSIONED so [[readAt]] below an add-column evolution serves the
    * pre-evolution column set. The anchor's schema is memoized
    * ([[BucketedLog.anchorSchemaCache]]) keyed on the dir's identity
    * (path, mtime, total bytes): anchors are immutable once written,
    * so every commit/read after the first skips the parquet footer
    * round-trip — pure metadata caching, never data. */
  private def emptyStateAt(spark: SparkSession, version: Long): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      anchorSchemaAt(spark, version))

  private def anchorSchemaAt(spark: SparkSession,
      version: Long): org.apache.spark.sql.types.StructType = {
    val f = fs(spark)
    val anchors = allSchemaAnchors(f).filter(_._1 <= version)
    if (anchors.isEmpty)
      sys.error(s"BucketedLog: no schema.v* anchor ≤ $version under $dir")
    val p = anchors.maxBy(_._1)._2
    val children = f.listStatus(p)
    val key = (f.makeQualified(p).toString,
      children.map(_.getModificationTime).maxOption.getOrElse(0L),
      children.map(_.getLen).sum)
    BucketedLog.anchorSchemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(p.toString).schema)
  }

  private def allSchemaAnchors(f: FileSystem): Seq[(Long, Path)] = {
    val d = new Path(dir)
    if (!f.exists(d)) return Seq.empty
    f.listStatus(d).toSeq.flatMap { st =>
      st.getPath.getName match {
        case SchemaName(v) => Some((v.toLong, st.getPath))
        case _ => None
      }
    }
  }

  /** The head (version −1 with no watermarks before the first commit)
    * with `batchId` recorded as its writer's last-applied batch
    * (`#batch=` for the default writer "", `#txn.<writerId>=` for a
    * named one), or None when that batch already landed: exactly-once
    * by batch id — a crash-replayed micro-batch whose commit already
    * landed is a no-op, required for NON-idempotent merges (additive
    * AggView folds) under at-least-once delivery. */
  private def advanced(spark: SparkSession, batchId: Long,
      writerId: String): Option[Head] = {
    val base = head(spark).getOrElse(Head(-1L, -1L, Map.empty, Map.empty))
    if (writerId.isEmpty)
      Option.when(batchId > base.lastBatch)(base.copy(lastBatch = batchId))
    else Option.when(batchId > base.txns.getOrElse(writerId, -1L))(
      base.copy(txns = base.txns.updated(writerId, batchId)))
  }

  /** Write `rows` into the version dir `vdir`'s in-flight `.tmp` twin
    * and list the buckets they landed in. */
  private def writeTmp(f: FileSystem, rows: DataFrame,
      vdir: String): Set[Int] = {
    writeBucketed(rows, s"$dir/$vdir.tmp")
    writtenBuckets(f, s"$vdir.tmp").toSet
  }

  /** A touched-bucket rewrite's entries: the written buckets point at
    * `vdir` alone, and a touched bucket ABSENT from the written set is
    * DROPPED — the merge emitted zero rows for it (every group
    * retracted), and a carried stale pointer would resurrect the
    * retracted rows on the next read. */
  private def rewritten(entries: Map[Int, Seq[String]], touched: Set[Int],
      written: Set[Int], vdir: String): Map[Int, Seq[String]] =
    (entries -- (touched -- written)) ++ written.map(_ -> Seq(vdir))

  /** THE commit of [[applyBatch]], [[appendBatch]], [[rewriteBuckets]]
    * and [[compactNow]] (class doc, "Commit protocol"): publishes
    * version `base.version + 1` with `base`'s watermarks.
    *
    *   1. `write(vdir)` writes the new rows into `<vdir>.tmp` and
    *      returns the buckets they landed in — or None when the writer
    *      has no rows to publish (an empty batch);
    *   2. the `.tmp` dir is renamed to `vdir`; a failure anywhere up
    *      to here deletes the `.tmp` dir and rethrows
    *      ([[raceOrRethrow]]);
    *   3. the manifest maps buckets to `entriesOf(written, vdir)`; a
    *      lost publish race deletes the orphaned `vdir`;
    *   4. superseded manifests and dead dirs are swept, and a retained
    *      store's manifests checkpointed.
    *
    * A None write still publishes `base`'s entries under the advanced
    * watermarks: the `#batch=` mark is the coverage receipt
    * downstream freshness fences read (ZoneMapIndex.coveredBatch),
    * and a legitimately-empty ingest micro-batch IS fully covered —
    * under-reporting it would fail a strict `coveredBatch == n` fence
    * spuriously. Before the first manifest there is nothing to
    * advance, so an empty write publishes nothing. */
  private def commit(f: FileSystem, base: Head)(
      write: String => Option[Set[Int]])(
      entriesOf: (Set[Int], String) => Map[Int, Seq[String]]): Unit = {
    // ALWAYS base + 1 — a batch-id-derived jump would let a
    // concurrent named writer/compactNow land at a DIFFERENT version
    // in the same race and silently shadow one commit (put-if-absent
    // collides only on equal version names)
    val version = base.version + 1
    val nonce = newNonce()
    // writer-unique dir: a concurrent writer at the same version can
    // never overwrite this data, and no manifest can alias it; a
    // crash-replay re-derives the same content under a FRESH name
    // (the crashed attempt's dir is unreferenced — swept by cleanup).
    // Under data/ so top-level discovery listings stay BOUNDED
    // (manifest-checkpointing doc)
    val vdir = s"data/v$version-$nonce"
    val tmp = new Path(s"$dir/$vdir.tmp")
    val written = try write(vdir).map { w =>
      // write-then-rename: the dir carries its final name only once its
      // content is complete, so a concurrent winner's sweep can never
      // fail THIS writer's in-flight tasks (deleteDeadDataDirs doc)
      require(f.rename(tmp, new Path(s"$dir/$vdir")),
        s"BucketedLog: rename of $vdir.tmp failed — refusing to publish " +
          "a manifest over a missing data dir")
      w
    } catch { case e: Throwable =>
      f.delete(tmp, true)
      raceOrRethrow(f, base.version, e)
    }
    if (written.isEmpty) {
      f.delete(tmp, true)
      if (base.version < 0L) return
    }
    val next = base.copy(version = version,
      entries = written.fold(base.entries)(entriesOf(_, vdir)))
    try writeManifest(f, next, nonce)
    catch { case e: ConcurrentCommitException =>
      f.delete(new Path(s"$dir/$vdir"), true); throw e
    }
    cleanup(f, version, next.entries)
    maybeCheckpoint(f)
  }

  /** Fold one batch into the store: read ONLY the buckets the batch's
    * keys hash to, `merge(currentStateOfThoseBuckets, batch)` (state
    * is None when no touched bucket has rows yet — all-new-key
    * batches), write the result to a new version dir, commit the
    * manifest at `curVer + 1`. `batchId` must be monotone (the
    * streaming engine's) — it drives the `#batch=` exactly-once
    * guard, NOT the version name (class doc, "Commit protocol").
    * `merge` must return rows whose keys hash back into the touched
    * set (same keys in = same buckets out). */
  def applyBatch(batch: DataFrame, batchId: Long)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): Unit =
    applyBatch(batch, batchId, writerId = "")(merge)

  /** [[applyBatch]] with a named writer: the exactly-once guard is
    * this writer's OWN `#txn.<writerId>=` watermark (class doc,
    * "Multiple writers"), so independent ingest streams with
    * independent batch-id sequences can share one store — each
    * stream's crash-replays are no-ops by ITS mark, and other
    * writers' commits never advance it. Every commit — default and
    * named — targets `curVer + 1`, so concurrent writers always
    * collide loudly on the version name. `#batch=` advances only on
    * default-writer commits. A commit that loses a race throws
    * [[ConcurrentCommitException]]; wrap it in [[BucketedLog.retrying]]
    * to rebase instead (the merge is a pure function of what it read,
    * so a re-run against the winner's state IS the rebase). */
  def applyBatch(batch: DataFrame, batchId: Long, writerId: String)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    requireWriterId(writerId)
    val spark = batch.sparkSession
    val f = fs(spark)
    val base = advanced(spark, batchId, writerId) match {
      case Some(h) => h
      case None => return
    }
    // NOTE (round-17 measurement): caching the batch across the
    // touched-set job and the merge's write was tried and REVERTED —
    // the touched pass reads only the hash columns and runs map-only
    // (touchedBuckets), so it is far cheaper than a full
    // materialization (persist forces every column and pins the
    // pre-AQE partitioning; ingest gates measured ~2× slower with the
    // cache). A 1-bucket store (single-row stats folds) needs no job
    // at all: every key hashes to bucket 0, and treating an empty
    // batch as touching it merely rewrites the bucket's identical rows
    // under the advanced watermark (same observable state as the
    // empty-touched branch, minus a full batch evaluation per commit)
    val touched = if (buckets == 1) Set(0) else touchedBuckets(batch)
    val compact =
      !retain && base.entries.values.flatten.toSet.size > compactAfter
    commit(f, base) { vdir =>
      Option.when(touched.nonEmpty) {
        val cur = if (base.version == -1L) None
          else stateRows(spark, base.entries,
            if (compact) None else Some(touched),
            anchorSchemaAt(spark, base.version))
        val next = merge(cur, batch)
        // a store seeded by its FIRST batch (no init) still needs the
        // schema anchor for empty-state reads (anchored at version 0:
        // it governs every version from the first commit on)
        if (base.version == -1L) writeAnchor(next, 0L)
        writeTmp(f, next, vdir)
      }
    } { (written, vdir) =>
      if (compact) written.map(_ -> Seq(vdir)).toMap
      else rewritten(base.entries, touched, written, vdir)
    }
  }

  /** APPEND one batch's rows WITHOUT reading or rewriting current
    * state — the SEGMENT commit for append-only folds (inverted-index
    * postings, event logs). [[applyBatch]]'s merge REWRITES every
    * touched bucket's full contents: right for sparse-key states
    * (CDC PKs, aggregate groups, DV keys), O(state)-per-batch for
    * dense-coverage ones — a realistic Zipfian text batch carries
    * terms hashing into essentially every postings bucket, so each
    * micro-batch would rewrite ~the whole index. Here the batch's
    * rows are written ALONE, partitioned by bucket, and the manifest
    * APPENDS the new dir to each touched bucket's segment list — the
    * Lucene immutable-segment discipline on the same manifest
    * protocol (crash atomicity, exactly-once `#batch=`/`#txn.`
    * guards, loud optimistic concurrency, `curVer + 1` versioning
    * all inherited).
    *
    * Readers union a bucket's segments ([[stateRows]]); a touched
    * bucket whose segment list has reached `compactAfter` is FOLDED
    * in the same commit — its current rows are read and written
    * alongside the batch's, and its entry collapses to the one new
    * dir — so every read stays bounded at ≤ compactAfter segment
    * dirs per bucket while per-batch cost stays
    * O(|batch| + rows of folding buckets), amortized-FLAT in index
    * size (the `inverted_ingest_batch` probe pins one fixed batch
    * ~flat against a 1×/2×/4× grown index). Row semantics are pure
    * multiset append: dedup or merge, if any is wanted, belongs to
    * the reader or a [[rewriteBuckets]] maintenance pass. A lost race
    * re-run through [[BucketedLog.retrying]] simply re-appends (the
    * batch's rows are version-independent). */
  def appendBatch(batch: DataFrame, batchId: Long,
      writerId: String = ""): Unit = {
    requireWriterId(writerId)
    val spark = batch.sparkSession
    val f = fs(spark)
    val base = advanced(spark, batchId, writerId) match {
      case Some(h) => h
      case None => return
    }
    // buckets whose segment list is full fold NOW (amortized): their
    // current rows join this commit's dir and the entry collapses
    def folds(b: Int): Boolean =
      base.entries.getOrElse(b, Nil).size >= compactAfter
    // WRITE-FIRST (round-17): the segment write needs no current
    // state, so the batch is written before anything else and the
    // written dir's `__bkt=` listing IS the touched set — one
    // evaluation of the batch lineage per commit instead of two (the
    // old shape ran a separate touched-set job over the same
    // tokenize/transform pipeline just to learn the buckets). Folding
    // buckets are discovered from the listing and their current rows
    // written to a sibling tmp whose per-bucket files are MOVED into
    // the segment dir before the rename — the dir's final content is
    // the same batch ∪ folding-state union as before, and a crash
    // anywhere pre-rename leaves only `.tmp` litter for the sweep.
    commit(f, base) { vdir =>
      if (base.version == -1L) writeAnchor(batch, 0L)
      val written = writeTmp(f, batch, vdir)
      val folding = written.filter(folds)
      if (folding.nonEmpty) {
        val foldTmp = s"$vdir.fold.tmp"
        try {
          stateRows(spark, base.entries, Some(folding),
              anchorSchemaAt(spark, base.version))
            .foreach(writeBucketed(_, s"$dir/$foldTmp"))
          // move the folded rows' files in with the batch's (writer-
          // unique part names — no collision); folding ⊆ written, so
          // every target bucket dir exists
          writtenBuckets(f, foldTmp).foreach { b =>
            f.listStatus(new Path(s"$dir/$foldTmp/$BktCol=$b"))
              .foreach { st =>
                require(f.rename(st.getPath, new Path(
                  s"$dir/$vdir.tmp/$BktCol=$b/${st.getPath.getName}")),
                  s"BucketedLog: fold-move into $vdir.tmp failed")
              }
          }
        } finally f.delete(new Path(s"$dir/$foldTmp"), true)
      }
      Option.when(written.nonEmpty)(written)
    } { (written, vdir) =>
      // every touched bucket is written (the batch has rows for it by
      // construction); untouched entries carry; folding buckets collapse
      base.entries ++ written.map { b =>
        b -> (if (folds(b)) Seq(vdir)
              else base.entries.getOrElse(b, Nil) :+ vdir)
      }
    }
  }

  /** Touched-bucket MAINTENANCE rewrite — [[applyBatch]]'s bounded
    * touched-set commit OUTSIDE the batch-id sequence: `keys` names
    * the touched buckets (hashed on `hashCols` like state rows),
    * `merge(currentStateOfThoseBuckets, keys)` returns those buckets'
    * REPLACEMENT rows, and the manifest carries the last-applied
    * batch id UNCHANGED — this rewrites COVERED state (delete-path
    * index re-tightening), it is not new coverage, so downstream
    * freshness fences reading `#batch=` stay exact. O(|keys| +
    * touched-bucket rows); a lost commit race throws
    * [[ConcurrentCommitException]] like every other writer. On a
    * segmented ([[appendBatch]]) store this also collapses the
    * touched buckets' segment lists to the one new dir. */
  def rewriteBuckets(keys: DataFrame)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    val spark = keys.sparkSession
    val f = fs(spark)
    val base = head(spark)
      .getOrElse(sys.error(s"BucketedLog.rewriteBuckets before init: $dir"))
    val touched = touchedBuckets(keys)
    if (touched.isEmpty) return
    commit(f, base) { vdir =>
      val cur = stateRows(spark, base.entries, Some(touched),
        anchorSchemaAt(spark, base.version))
      Some(writeTmp(f, merge(cur, keys), vdir))
    } { (written, vdir) => rewritten(base.entries, touched, written, vdir) }
  }

  /** Fold the WHOLE state into one fresh version, optionally
    * transforming it on the way (maintenance pass — tombstone
    * expiry, schema-preserving rewrites). Unlike [[applyBatch]]'s
    * amortized compaction this is caller-triggered: O(state) IO,
    * run it off the hot path. The version/manifest protocol is the
    * same, so a crash mid-pass leaves the old state fully readable;
    * the last-applied batch id is carried unchanged so the
    * exactly-once replay guard survives the rewrite. Buckets whose
    * rows the transform drops entirely leave the manifest. A lost
    * race (a live applyBatch published this version first) throws
    * LOUDLY; re-run the pass from a fresh read. */
  def compactNow(spark: SparkSession)(
      transform: DataFrame => DataFrame): Unit = {
    val f = fs(spark)
    val base = head(spark)
      .getOrElse(sys.error(s"BucketedLog.compactNow before init: $dir"))
    commit(f, base) { vdir =>
      Some(writeTmp(f, transform(rowsOf(spark, base, None)), vdir))
    } { (written, vdir) => written.map(_ -> Seq(vdir)).toMap }
  }

  /** Full current state (all buckets); the typed empty frame when
    * every bucket has emptied (a full retraction is a legitimate
    * state, not an error — only a missing manifest is). */
  def read(spark: SparkSession): DataFrame =
    rowsOf(spark, head(spark)
      .getOrElse(sys.error(s"BucketedLog.read before init: $dir")), None)

  /** `which` buckets' rows (all if None) as of manifest `h`, in the
    * schema anchored at its version; the typed empty frame when none
    * has rows. */
  private def rowsOf(spark: SparkSession, h: Head,
      which: Option[Set[Int]]): DataFrame = {
    val empty = emptyStateAt(spark, h.version)
    stateRows(spark, h.entries, which, empty.schema).getOrElse(empty)
  }

  /** State rows of ONLY the buckets `keys` hash to — the directory-
    * pruned POINT-LOOKUP read path (posting-list probes, key
    * lookups): O(touched buckets) IO, never O(state). Returns the
    * touched buckets' FULL rows (the bucket is the unit of pruning,
    * like every skipping index here) — the caller applies its exact
    * key predicate as the residual. One map-only job over `keys`
    * finds their buckets ([[touchedBuckets]]). */
  def readFor(keys: DataFrame): DataFrame = {
    val spark = keys.sparkSession
    val h = head(spark)
      .getOrElse(sys.error(s"BucketedLog.readFor before init: $dir"))
    rowsOf(spark, h, Some(touchedBuckets(keys)))
  }

  /** [[readFor]] for DRIVER-KNOWN keys of a single-hash-column store:
    * the bucket of each literal is evaluated on the driver through
    * the same Catalyst expression the writers hash with
    * (`pmod(xxhash64(key), buckets)` — interpreted eval of the
    * identical expression tree, so the pruning can never diverge from
    * the written layout; `BucketedLogSegmentSpec` pins equality against
    * [[readFor]]), which saves the map-only job [[readFor]] spends
    * on the touched set. Each value must be the hash
    * column's exact external type (String / Long / Int — xxhash64 is
    * type-sensitive, a Long and an Int of equal value hash apart). */
  def readForValues(spark: SparkSession, keys: Seq[Any]): DataFrame = {
    require(hashCols.size == 1,
      s"readForValues needs a single-hash-column store: $hashCols")
    val h = head(spark)
      .getOrElse(sys.error(s"BucketedLog.readForValues before init: $dir"))
    rowsOf(spark, h, Some(keys.map(bucketOfValue).toSet))
  }

  /** The buckets `df`'s keys hash to, in ONE map-only Spark job: each
    * task sets its rows' buckets in a `buckets`-bit set and the driver
    * ORs the tasks' words. A `distinct()` would shuffle, and under AQE
    * run its two stages as two jobs. The empty frame touches nothing. */
  private[graft] def touchedBuckets(df: DataFrame): Set[Int] = {
    val n = buckets
    val words = df.select(bkt.cast("int")).rdd.mapPartitions { rows =>
      val bits = new java.util.BitSet(n)
      rows.foreach(r => bits.set(r.getInt(0)))
      Iterator.single(bits.toLongArray)
    }.collect()
    val all = new java.util.BitSet(n)
    words.foreach(w => all.or(java.util.BitSet.valueOf(w)))
    all.stream().toArray.toSet
  }

  /** Driver-side bucket of one key value — the [[bkt]] expression
    * evaluated interpreted over a literal. */
  private def bucketOfValue(v: Any): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    Pmod(new XxHash64(Seq(Literal(v))), Literal(buckets.toLong))
      .eval(null).asInstanceOf[Long].toInt
  }

  /** Full state AS OF `version` — the snapshot the highest manifest
    * ≤ `version` published (requires `retain`). */
  def readAt(spark: SparkSession, version: Long): DataFrame =
    // the schema anchor in force AT that manifest: a read below an
    // add-column evolution serves the pre-evolution column set
    rowsOf(spark, headAt(spark, version).getOrElse(
      sys.error(s"BucketedLog.readAt($version): no manifest ≤ $version " +
        s"under $dir (vacuumed or never written)")), None)

  /** ADD-COLUMN SCHEMA EVOLUTION: re-anchor the state schema with
    * `add` (name → Spark SQL type string) appended, as a zero-IO
    * metadata commit — data dirs are untouched, existing manifest
    * entries are carried, and every PRE-evolution dir reads back with
    * the new columns null-filled ([[stateRows]]' typed alignment).
    * [[readAt]] below the evolution version still serves the old
    * column set (versioned anchors). The manifest is published FIRST:
    * a crash between the two writes leaves a bumped version still
    * governed by the old anchor — "evolution not applied", safe to
    * re-run — never an orphan anchor a later commit would silently
    * activate. A lost commit race throws [[ConcurrentCommitException]]
    * before the anchor exists. ADD-column is the whole surface BY
    * DESIGN: rename and drop would re-key data already written under
    * the old names (Delta needs explicit column-mapping metadata for
    * the same reason), and type changes silently corrupt folded
    * LONG-exact states — both are rejected rather than approximated.
    * Evolution is a DDL: caller-coordinated, NOT replay-idempotent
    * (re-adding an existing column throws). */
  def evolveSchema(spark: SparkSession, add: Seq[(String, String)]): Unit = {
    val f = fs(spark)
    val base = head(spark)
      .getOrElse(sys.error(s"BucketedLog.evolveSchema before init: $dir"))
    val old = emptyStateAt(spark, base.version)
    val clash = add.map(_._1).toSet.intersect(old.columns.toSet)
    require(clash.isEmpty, s"evolveSchema: columns already present: $clash")
    val version = base.version + 1
    writeManifest(f, base.copy(version = version), newNonce())
    writeAnchor(old.select(old.columns.map(col).toSeq ++ add.map {
      case (n, t) => lit(null).cast(t).as(n) }: _*), version)
    cleanup(f, version, base.entries)
  }
}

object BucketedLog {
  /** Schema-anchor memo for [[BucketedLog.emptyStateAt]]: anchors are
    * immutable parquet dirs written once (init / evolveSchema), so
    * their schema is cached keyed by (qualified path, newest child
    * mtime, total child bytes) — a re-init at the same path (tests)
    * gets a fresh key. Metadata only, bounded by live store count. */
  private val anchorSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      org.apache.spark.sql.types.StructType]()

  /** One manifest's content: its `version`; `lastBatch`, the default
    * writer's last-applied batch id (`#batch=`, −1 before its first
    * commit); `txns`, each named writer's last-applied batch id
    * (`#txn.<writerId>=`); and `entries`, bucket → the version dirs
    * whose union is its rows. */
  final case class Head(version: Long, lastBatch: Long,
      txns: Map[String, Long], entries: Map[Int, Seq[String]])

  /** Age past which an in-flight `.tmp` data dir is presumed a
    * CRASHED writer's litter and swept by the next commit's cleanup
    * (deleteDeadDataDirs doc). Live writes finish far inside this at
    * any sane bucket sizing; a loser's orphan never waits on it (the
    * loser deletes its own dir synchronously). */
  private[streaming] val SweepGraceMs: Long = 60L * 60L * 1000L

  /** Run `commit` until it lands, retrying ONLY lost optimistic-
    * concurrency races (class doc: every commit path re-reads the
    * manifest at entry, so a re-run IS a rebase against the winner's
    * state — the Delta re-check-and-retry discipline). Linear
    * backoff de-synchronizes herds; any other failure propagates
    * immediately; after `maxAttempts` losses the last
    * [[ConcurrentCommitException]] propagates (starvation surfaces
    * loudly rather than spinning forever). */
  def retrying[T](maxAttempts: Int = 8, backoffMs: Long = 20L)(
      commit: => T): T = {
    require(maxAttempts >= 1, s"retrying: maxAttempts=$maxAttempts")
    var attempt = 1
    while (true) {
      try return commit
      catch { case e: ConcurrentCommitException =>
        if (attempt >= maxAttempts) throw e
        Thread.sleep(backoffMs * attempt)
        attempt += 1
      }
    }
    sys.error("unreachable")
  }
}
