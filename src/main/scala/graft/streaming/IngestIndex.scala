package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** Physical layout of the streaming ingest-gate's dedup index — the
  * piece that makes [[StreamOps.dedupIngestStream]]'s per-batch cost
  * INDEPENDENT of stream history, i.e. the part of the 100 TB/day
  * design claim the naive "re-read every batch=N dir" layout could not
  * meet. LSM-shaped, three mechanisms:
  *
  *  1. '''Deltas + size-tiered runs.''' Each micro-batch appends a
  *     small UNpartitioned `batch=<id>` delta (overwrite mode — the
  *     retry idempotency shape is unchanged). [[compact]] periodically
  *     folds the new deltas into a '''hash-prefix-partitioned run'''
  *     (`run_<id>_<k>/hp=XX/`, `hp` = first [[HashPrefixLen]] hex chars
  *     of the key) and then merges runs of the SAME power-of-two size
  *     class, binary-counter style (Bentley–Saxe): the live index is a
  *     set of ≤ log₂(n) runs with geometrically separated sizes. A
  *     normal compaction therefore costs O(deltas folded); a merge
  *     touching the biggest run happens only every time the corpus
  *     DOUBLES, so each key is rewritten O(log n) times over the index
  *     lifetime — never "the whole base every cycle" (the round-10
  *     layout's one scale defect: md5 keys are uniform, so every delta
  *     touches every `hp=` partition and partition-scoped folding alone
  *     bounds nothing). The new run set is committed by a single
  *     `manifest.json` pointer swap — no window in which index rows
  *     exist nowhere; a crash mid-compaction leaves at worst orphan
  *     `run_*` dirs that the next compaction deletes. (On an object
  *     store the same manifest-pointer commit applies verbatim.)
  *  2. '''Bloom pre-screen.''' Every delta and every run carries a
  *     Bloom sidecar over its keys. A batch row whose key misses ALL
  *     blooms is '''guaranteed new''' (no false negatives) and never
  *     touches the index; only the maybe-seen suspects proceed to the
  *     exact probe joins, so a mostly-clean crawl batch costs ~zero
  *     index IO. False positives only cost a probe — decisions stay
  *     exact and bit-identical with or without the screen. Sidecars are
  *     cached driver-side by path ([[readBloom]]), so steady-state
  *     batches re-read NO sidecar bytes from the FS.
  *  3. '''Prefix-pruned probes.''' The suspects' distinct `hp`
  *     prefixes (≤ 16^[[HashPrefixLen]] values, collected driver-side)
  *     become a partition filter on every run scan — the exact join
  *     reads only the run partitions that could possibly match
  *     (`PartitionFilters` in the scan, spec-asserted), instead of the
  *     whole corpus index.
  *
  * Every read of an index dir goes through one reader per dir shape —
  * delta, run, source-scoped delta, tombstone — each under that shape's
  * pinned at-rest schema, as [[AnnIngest]] reads its own dirs: no read
  * launches a schema-inference job, and a column an older dir lacks
  * (a tombstone's `tb_bound`) reads NULL instead of changing the plan.
  *
  * Bloom sizing: delta sidecars share a fixed [[BloomItems]] geometry
  * so they OR-merge into one probe filter; each run's sidecar is sized
  * to its true row count at write (runs of different sizes probe
  * separately — [[mightContainAny]] groups by geometry). A delta larger
  * than [[BloomItems]] only degrades the sidecar's FP rate — more rows
  * probe the index, none are misjudged.
  */
object IngestIndex {

  /** MAX hex chars of the key used as the run partition column `hp`:
    * 2 → 256 partitions, enough that a pruned probe reads ≲1/256 of
    * a big run per suspect prefix while keeping file counts sane.
    * Suspect prefixes are always collected at THIS width and truncated
    * per run at probe time. */
  val HashPrefixLen = 2

  /** Runs below this row count use a 1-hex-char `hp` (16 partitions),
    * at-or-above use [[HashPrefixLen]] (256). A fixed 256-partition
    * geometry set compaction's FLOOR cost: every run write touched
    * ~256 partition dirs however small the run (md5 keys are uniform),
    * so compacting a few-thousand-key index cost ~10 s of pure file-op
    * overhead at sf0.1. Per-run widths remove that floor; each run's
    * width is self-described by its `_w<N>` name suffix, so the probe
    * never guesses (and a run never changes width in place — runs are
    * immutable, width is fixed at write). */
  val HpWidthThreshold: Long = 1L << 20

  /** Hex-prefix width for a run of `rows` distinct keys. */
  private[streaming] def widthFor(rows: Long): Int =
    if (rows < HpWidthThreshold) 1 else HashPrefixLen

  /** A run's hp width, parsed from its self-describing `_w<N>` name
    * suffix; legacy suffix-less runs were all written at
    * [[HashPrefixLen]]. */
  private[streaming] def widthOf(runName: String): Int =
    "_w(\\d+)$".r.findFirstMatchIn(runName).map(_.group(1).toInt)
      .getOrElse(HashPrefixLen)

  /** `hp` partition value for a key at `width` hex chars. The letter
    * prefix is part of the on-disk layout: it once kept an all-digit
    * prefix ("07") from being type-inferred back as an INT partition
    * column; every read now pins `hp` as a string ([[readRun]]), and the
    * prefix stays so existing runs keep their partition values. */
  private[streaming] def hpOf(key: Column,
      width: Int = HashPrefixLen): Column =
    concat(lit("x"), substring(key, 1, width))

  /** Shared delta-sidecar Bloom geometry (must be identical across
    * deltas for OR-merge); ~1.2 MB at 1% FPP. */
  val BloomItems: Long = 1L << 20
  val BloomFpp: Double = 0.01

  /** The two index families: exact md5 hashes and MinHash band keys. */
  private[streaming] val Kinds = Seq("hashes", "bands")

  private def fsFor(sp: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(sp.sparkContext.hadoopConfiguration)

  // ---- manifest -----------------------------------------------------------

  /** One compacted run: dir name under `<indexDir>/<kind>/` plus its
    * row count (what the size-tiered merge policy keys on). */
  final case class Run(name: String, rows: Long)

  /** The index's committed state: highest delta id folded into runs,
    * per-kind run lists (biggest first), and — for the ANN index — the
    * name of the centroids file queries must use ([[AnnIngest]]
    * retrain-at-compaction; None = the original `centroids.json`). */
  final case class Manifest(maxCompacted: Long,
                            runs: Map[String, Seq[Run]],
                            cents: Option[String] = None)

  /** Driver-side row count from parquet FOOTERS — no Spark job. Lists
    * part files recursively under each dir (partitioned layouts
    * included) and sums footer block counts. The drill-family wall
    * time is job-count × fixed dispatch overhead, so a metadata-only
    * count must not pay a job; at object-store scale this is the same
    * O(files) listing that scan planning pays, minus the dispatch.
    * Each file is opened with read options built from the session's
    * Hadoop conf: the one-argument `ParquetFileReader.open` builds a
    * fresh default `Configuration` per file, which parses Hadoop's XML
    * resources every time (~10 ms a file against ~0.5 ms, measured on
    * a 16-file 500-row delta). */
  private[streaming] def footerRows(sp: SparkSession,
      dirs: Seq[String]): Long = {
    import org.apache.hadoop.fs.FileStatus
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = sp.sparkContext.hadoopConfiguration
    def files(p: Path, f: FileSystem): Seq[FileStatus] =
      f.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) files(s.getPath, f)
        else if (s.getPath.getName.endsWith(".parquet") ||
                 s.getPath.getName.startsWith("part-")) Seq(s)
        else Nil
      }
    dirs.map { d =>
      val p = new Path(d)
      val f = p.getFileSystem(conf)
      if (!f.exists(p)) 0L
      else files(p, f).map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
          HadoopReadOptions.builder(conf, st.getPath).build())
        try r.getRecordCount finally r.close()
      }.sum
    }.sum
  }

  /** Upper bound on the live index's row count from the manifest alone
    * (metadata-only — no Spark job): summed run counts of the two key
    * kinds. Unfolded deltas are excluded; they are batch-sized and the
    * caller adds its own batch. Used to size foreachBatch shuffle
    * widths: the batch body joins against the ACCUMULATED index, so a
    * trickle batch into a large production index must not serialize
    * the index-facing shuffles to one partition. */
  private[streaming] def liveRowsBound(sp: SparkSession,
      indexDir: String): Long =
    readManifest(sp, indexDir).runs
      .filter { case (k, _) => Kinds.contains(k) }
      .values.flatten.map(_.rows).sum

  /** The manifest is the single commit point of a compaction; it is a
    * 1-line JSON file, rewritten atomically-enough (create + rename by
    * the FS client) and tiny to re-read per batch. */
  private[streaming] def readManifest(sp: SparkSession, indexDir: String)
      : Manifest = {
    val fs = fsFor(sp, indexDir)
    val p = new Path(s"$indexDir/manifest.json")
    if (!fs.exists(p)) Manifest(-1L, Map.empty)
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val mc = "\"maxCompacted\"\\s*:\\s*(-?\\d+)".r
        .findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(-1L)
      val cents = "\"cents\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(txt).map(_.group(1))
      // kind sections: "kind": [{"name": "...", "rows": N}, ...]
      val kindRe = "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\[([^\\]]*)\\]".r
      val runRe =
        "\\{\\s*\"name\"\\s*:\\s*\"([^\"]+)\"\\s*,\\s*\"rows\"\\s*:\\s*(\\d+)\\s*\\}".r
      val runs = kindRe.findAllMatchIn(txt).map { m =>
        m.group(1) -> runRe.findAllMatchIn(m.group(2))
          .map(r => Run(r.group(1), r.group(2).toLong)).toSeq
      }.toMap.filter(_._2.nonEmpty)
      // fail-fast on a pre-tiered-layout manifest ("base": "base_vK"
      // with no runs): silently parsing it as "no runs" would make
      // every probe skip the whole compacted corpus — admitting every
      // duplicate. No supported migration: rebuild the index.
      if (runs.isEmpty &&
          "\"base\"\\s*:\\s*\"".r.findFirstIn(txt).isDefined)
        throw new IllegalStateException(
          s"$indexDir/manifest.json uses the legacy single-base layout;" +
            " rebuild the index (probing it as empty would silently" +
            " re-admit every previously-seen document)")
      Manifest(mc, runs, cents)
    }
  }

  /** Commit-time FENCE: immediately before a manifest publish, verify
    * that the lease this thread holds for `indexDir` (if any) still
    * carries its acquisition token. The heartbeat makes usurpation of
    * a LIVE writer near-impossible, and the ownership-checked release
    * reports one after the fact — but a writer that somehow lost its
    * lease mid-operation (heartbeat thread died, manual lease delete,
    * clock skew past the stale threshold) must fail its COMMIT, not
    * overwrite the new holder's manifest with a state that never saw
    * the new holder's writes. One tiny file read per writer op. A
    * thread holding no lease for this index (bootstrap/test paths)
    * skips the check. */
  private def fenceCheck(fs: FileSystem, indexDir: String): Unit = {
    val key = fs.makeQualified(new Path(indexDir)).toString
    val me = Thread.currentThread().getId
    val tokenOpt = heldLeases.synchronized {
      heldLeases.get(key).filter(_.thread == me).map(_.token)
    }
    tokenOpt.foreach { token =>
      val cur = readLease(fs, leasePath(indexDir)).flatMap(leaseToken)
      if (!cur.contains(token))
        throw new IllegalStateException(
          s"lease on $indexDir was lost mid-operation (now held by " +
            s"${cur.getOrElse("nobody")}) — refusing to commit the " +
            "manifest over the new writer's state")
    }
  }

  /** Publish the manifest via write-temp-then-rename(OVERWRITE): the
    * rename is the atomic commit on HDFS-like filesystems and the local
    * FS, so a concurrent reader sees the OLD manifest or the NEW one,
    * never a truncated in-place overwrite (which would read as "empty
    * index" and silently skip the whole prior state). Fenced: a writer
    * whose lease was usurped mid-operation fails here ([[fenceCheck]])
    * instead of clobbering the new holder's commits. */
  private[streaming] def writeManifest(sp: SparkSession, indexDir: String,
                                       m: Manifest): Unit = {
    val fs = fsFor(sp, indexDir)
    fenceCheck(fs, indexDir)
    val runsJson = m.runs.toSeq.sortBy(_._1).map { case (kind, rs) =>
      "\"" + kind + "\": [" + rs.map(r =>
        s"""{"name": "${r.name}", "rows": ${r.rows}}""").mkString(", ") + "]"
    }.mkString("{", ", ", "}")
    val centsJson = m.cents.map(c => s""", "cents": "$c"""").getOrElse("")
    val tmp = new Path(s"$indexDir/manifest.json.tmp")
    val dst = new Path(s"$indexDir/manifest.json")
    val out = fs.create(tmp, true)
    try out.write(
      s"""{"maxCompacted": ${m.maxCompacted}$centsJson, "runs": $runsJson}"""
        .getBytes("UTF-8"))
    finally out.close()
    renameOverwrite(fs, sp.sparkContext.hadoopConfiguration, tmp, dst)
  }

  /** Atomic-publish rename: tmp → dst with OVERWRITE semantics, so a
    * concurrent reader sees the old file or the new one, never a gap or
    * a truncation. Shared by the manifest and the ANN quantizer. */
  private[streaming] def renameOverwrite(fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      tmp: Path, dst: Path): Unit = {
    val qTmp = fs.makeQualified(tmp)
    val qDst = fs.makeQualified(dst)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(qDst.toUri, conf)
    fc.rename(qTmp, qDst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Write `groups` — (sub-dir, rows) pairs, each row matching `schema`
    * field for field — as the dir `dir`, from the driver with no Spark
    * job: each group becomes ONE `part-*.parquet` file under
    * `dir/<sub-dir>` (`""` is `dir` itself), written by the output writer
    * a Spark parquet write uses (`ParquetFileFormat.prepareWrite` over the
    * session's conf and Hadoop conf, so codec and footer metadata are a
    * Spark write's), the files in parallel on [[graft.ops.Jobs]]. No
    * groups writes an empty dir. For a few thousand rows the job's
    * dispatch is the cost: 500 rows in 16 files took 220–270 ms as a job
    * against 80–90 ms from the driver (4-vCPU host, local FS).
    *
    * The files go to the hidden sibling `_stage_<name>`, which then
    * replaces `dir` by delete-and-rename. A Spark job's committer moves
    * its files into `dir` one by one at job commit, so a reader listing
    * `dir` meanwhile sees part of the write; a listing never sees a
    * staged write at all, since index listings match `batch=`, `run_`
    * and `t_` names. The stage's name is a function of `dir`'s, so the
    * retry of a write that died before its rename clears what that
    * attempt left and writes again: the overwrite stays idempotent. A
    * stage no retry comes for is removed by the next ANN compaction. */
  private[streaming] def writeFromDriver(sp: SparkSession, dir: String,
      schema: StructType,
      groups: Seq[(String, Seq[org.apache.spark.sql.catalyst.InternalRow])])
      : Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import graft.ops.Jobs
    val fs = fsFor(sp, dir)
    val target = fs.makeQualified(new Path(dir))
    val stage = new Path(target.getParent, s"_stage_${target.getName}")
    fs.delete(stage, true)
    fs.mkdirs(stage)
    val job = Job.getInstance(GraftBridge.hadoopConf(sp))
    val out = new ParquetFileFormat().prepareWrite(sp, job, Map.empty, schema)
    val write = java.util.UUID.randomUUID.toString
    Jobs.joinAll(groups.zipWithIndex.map { case ((sub, rows), i) =>
      Jobs.fork(GraftBridge.withActive(sp) {
        val ctx = new TaskAttemptContextImpl(job.getConfiguration,
          new TaskAttemptID("graft", 0, TaskType.MAP, i, 0))
        val name = f"part-$i%05d-$write.c000${out.getFileExtension(ctx)}"
        val w = out.newInstance(
          new Path(if (sub.isEmpty) stage else new Path(stage, sub), name)
            .toString, schema, ctx)
        try rows.foreach(w.write) finally w.close()
      })
    })
    fs.delete(target, true)
    if (!fs.rename(stage, target))
      throw new java.io.IOException(s"could not rename $stage to $target")
  }

  // ---- writer lease ---------------------------------------------------------

  /** Age past which a `_writer.lease` is presumed abandoned (crashed
    * writer) and may be taken over. Crash anywhere inside a leased op
    * is already SAFE for the index itself — every writer commits via
    * overwrite-idempotent dirs or the manifest rename — and a LIVE
    * holder refreshes the file's mtime every [[LeaseBeatMs]] from a
    * daemon heartbeat, so however slow the op, only a genuinely dead
    * writer's lease ever reaches this age. */
  val LeaseStaleMs: Long = 10 * 60 * 1000L

  /** Heartbeat period: the lease HOLDER refreshes `_writer.lease`'s
    * mtime this often from a daemon thread, so a live writer's lease
    * can never age past [[LeaseStaleMs]] — a legitimately slow op (a
    * full retrain at real scale runs well past 10 minutes) is never
    * usurped as "stale"; takeover now only ever fires on genuinely
    * dead writers. Test seam: specs shrink it to drill the beat. */
  @volatile private[graft] var LeaseBeatMs: Long = LeaseStaleMs / 4

  private def leasePath(indexDir: String) = new Path(s"$indexDir/_writer.lease")

  /** Single shared daemon scheduler for all held leases' heartbeats —
    * one parked thread JVM-wide, not one per lease. */
  private lazy val leaseHeart =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-lease-heartbeat")
        t.setDaemon(true); t
      })

  private def leaseBody(token: String): String =
    s"""{"owner": "pid${ProcessHandle.current().pid()}@${
      java.net.InetAddress.getLocalHost.getHostName}", "token": "$token"}"""

  private def readLease(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  private def leaseToken(body: String): Option[String] =
    "\"token\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(body)
      .map(_.group(1))

  /** Leases held by THIS JVM (qualified index path → holder record):
    * a caller may legitimately nest writer ops under one lease (e.g.
    * `withWriterLease { ingestBatch(...); compact(...) }` as a single
    * writer transaction), and same-THREAD nesting must not
    * self-deadlock on the file. A DIFFERENT thread of the same JVM is
    * a different writer — it must fail exactly like a second process
    * would, not silently ride the holder's lease. `token` is this
    * acquisition's unique identity (written into the file): release
    * and heartbeat verify it, so a holder that somehow lost the file
    * to a takeover can never delete the NEW holder's lease. */
  private case class Held(thread: Long, depth: Int, token: String,
      beat: java.util.concurrent.ScheduledFuture[_])
  private val heldLeases =
    scala.collection.mutable.Map.empty[String, Held]

  private def acquireFileLease(fs: FileSystem, indexDir: String,
      token: String): Unit = {
    val p = leasePath(indexDir)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(p, false) // create-if-absent = the acquisition
        try out.write(leaseBody(token).getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return
    val status =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    if (status.isEmpty) {
      // the lease VANISHED between the failed create and the stat —
      // the holder released. This is NOT takeover territory: we never
      // observed a stale file, so the rename-to-claim below could only
      // ever reap a lease some NEW writer just created (the mtime
      // guard cannot fire without an observed mtime to compare
      // against). Re-try the create once; losing that race to another
      // live writer is the ordinary fresh-holder refusal.
      if (tryCreate()) return
      throw new IllegalStateException(
        s"another writer acquired the lease on $indexDir as it was " +
          "released — retry after it finishes")
    }
    val fresh = status.exists(s =>
      System.currentTimeMillis() - s.getModificationTime < LeaseStaleMs)
    if (fresh) {
      val owner = readLease(fs, p).getOrElse("(unreadable)")
      throw new IllegalStateException(
        s"another writer holds the lease on $indexDir: $owner — " +
          "refusing to interleave (two writers racing the manifest " +
          "read->write can silently drop a tombstone record or a run " +
          s"list update); retry after it finishes, or delete ${p} if " +
          "that writer is known dead")
    }
    // Stale: presume a crashed writer and take over by RENAME-to-claim
    // — the rename is atomic on HDFS-like stores, so two takeover
    // racers cannot both claim, and a bare delete can never hit a
    // lease some OTHER taker just re-created (the delete->create
    // TOCTOU of the naive protocol). If the claimed file turns out to
    // be fresher than the one we stat'ed (it was replaced inside our
    // stat window by a new live holder), put it back and fail loudly.
    val staleMtime = status.map(_.getModificationTime)
    // a takeover that crashed between its rename and its delete left
    // an orphan reap file behind; collect aged ones while we are here
    // (the age gate keeps an IN-FLIGHT takeover's reap safe)
    try fs.listStatus(new Path(indexDir)).foreach { st =>
      if (st.getPath.getName.startsWith("_writer.lease.reap.") &&
          System.currentTimeMillis() - st.getModificationTime >
            LeaseStaleMs) { fs.delete(st.getPath, false); () }
    } catch { case _: java.io.IOException => () }
    val reap = new Path(s"$indexDir/_writer.lease.reap.$token")
    val claimed =
      try fs.rename(p, reap)
      catch { case _: java.io.IOException => false }
    if (!claimed)
      throw new IllegalStateException(
        s"lost the stale-lease takeover race on $indexDir — another " +
          "writer claimed it first; retry after it finishes")
    val reapedMtime =
      try Some(fs.getFileStatus(reap).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    if (staleMtime.isDefined && reapedMtime.isDefined &&
        reapedMtime != staleMtime) {
      // we reaped a DIFFERENT file than the stale one we observed — a
      // live writer re-acquired inside the window; restore and back off
      try { fs.rename(reap, p); () }
      catch { case _: java.io.IOException => () }
      throw new IllegalStateException(
        s"lease on $indexDir changed during the stale takeover — a new " +
          "writer acquired it; retry after it finishes")
    }
    fs.delete(reap, false)
    if (!tryCreate())
      throw new IllegalStateException(
        s"lost the stale-lease takeover race on $indexDir — another " +
          "writer claimed it first; retry after it finishes")
  }

  /** One heartbeat: refresh the lease's mtime IF it still carries our
    * token. A token mismatch means we were usurped (should be
    * impossible while beating — it takes a manual lease delete or an
    * external actor); the beat then stops touching the file and the
    * release path reports it. */
  private def beatOnce(fs: FileSystem, indexDir: String,
      token: String): Unit = {
    val p = leasePath(indexDir)
    try {
      if (readLease(fs, p).flatMap(leaseToken).contains(token))
        fs.setTimes(p, System.currentTimeMillis(), -1)
    } catch { case _: java.io.IOException => () }
  }

  /** Run `body` holding the index's SINGLE-WRITER lease.
    *
    * Writers (delta append, compaction, retraction/deletion) each
    * read-modify-write shared state (the manifest, tombstone dirs)
    * with no other concurrency control: two invocations racing — a
    * `gate --retract` while a `gate --feed` drain compacts, or two
    * `annindex` processes — can interleave a manifest read→write and
    * silently drop a tombstone record or a run-list update. READERS
    * stay lease-free: the manifest pointer swap plus one-generation
    * retention already gives them MVCC-lite safety.
    *
    * Protocol: create-if-absent of `_writer.lease` (atomic on
    * HDFS-like filesystems and the local FS) acquires, stamping a
    * unique token; a daemon heartbeat refreshes the mtime every
    * [[LeaseBeatMs]] while held (a live slow writer never looks
    * stale); release deletes the file ONLY if it still carries this
    * acquisition's token (also on failure — crash-left leases age out
    * via [[LeaseStaleMs]] rename-to-claim takeover). Same-JVM nesting
    * re-enters without touching the file. Every public writer op takes
    * the lease itself, so CLI verbs and streams are covered
    * transitively; wrap several ops in one `withWriterLease` to make
    * them a single writer transaction.
    *
    * DEPLOYMENT NOTE (object stores): the protocol needs atomic
    * create-if-absent and atomic rename — true on HDFS and ABFS, NOT
    * on S3A (create(p, false) is check-then-create and rename is
    * copy+delete there). Acquisition ENFORCES this: an s3a/s3n/s3
    * `indexDir` fails loudly unless
    * `spark.sql.graft.lease.allowNonAtomicStore=true` (session conf;
    * external writers set `graft.lease.allowNonAtomicStore` in the
    * Hadoop conf) explicitly accepts that the commit-time
    * [[fenceCheck]] — which downgrades silent interleaving to a loud
    * failed commit — is the only interleaving defense there. On S3,
    * prefer an HDFS/ABFS `indexDir` or a consistency layer. */
  def withWriterLease[T](sp: SparkSession, indexDir: String)(body: => T): T =
    withWriterLeaseFs(fsFor(sp, indexDir), indexDir,
      sp.conf.get("spark.sql.graft.lease.allowNonAtomicStore", "false")
        .toBoolean)(body)

  /** Schemes whose create-if-absent / rename are NOT atomic — the
    * lease protocol's cross-process mutual exclusion silently degrades
    * there (see the deployment note on [[withWriterLease]]). */
  private val NonAtomicSchemes = Set("s3a", "s3n", "s3")

  /** Fail acquisition on a store that cannot give the lease protocol
    * its atomicity, unless explicitly waived. */
  private def requireAtomicStore(fs: FileSystem, indexDir: String,
      allow: Boolean): Unit = {
    val scheme = Option(fs.getScheme).map(_.toLowerCase).getOrElse("")
    if (NonAtomicSchemes(scheme) && !allow)
      throw new IllegalStateException(
        s"writer lease on $indexDir: filesystem scheme '$scheme' has no " +
          "atomic create-if-absent/rename, so the lease protocol cannot " +
          "guarantee writer mutual exclusion there. Point the index at an " +
          "HDFS/ABFS path, or set " +
          "spark.sql.graft.lease.allowNonAtomicStore=true to accept the " +
          "commit-time fence check as the only interleaving defense.")
  }

  /** [[withWriterLease]] against an explicit FileSystem — the whole
    * protocol is metadata-only (create-if-absent, stat, rename,
    * setTimes), so an EXTERNAL writer needs no SparkSession to
    * participate. `tools.LeaseProbe` drives this from a separate JVM;
    * the cross-process drill in IngestIndexSpec rides on it. */
  private[graft] def withWriterLeaseFs[T](fs: FileSystem,
      indexDir: String, allowNonAtomic: Boolean = false)(body: => T): T = {
    requireAtomicStore(fs, indexDir, allowNonAtomic ||
      (fs.getConf != null &&
        fs.getConf.getBoolean("graft.lease.allowNonAtomicStore", false)))
    val key = fs.makeQualified(new Path(indexDir)).toString
    val me = Thread.currentThread().getId
    // ALL same-process acquisition/release state changes happen under
    // ONE monitor, including the lease-file create and delete: the
    // local FS's create-if-absent is exists-then-create (NOT atomic),
    // and the threaded stress spec caught a release's delete opening a
    // window in which several contenders' creates all succeeded at
    // once. Under the monitor, same-process contenders fully
    // serialize; CROSS-process mutual exclusion rides on the store's
    // create-if-absent, which is atomic on HDFS-like filesystems (the
    // deployment this index targets — the local-FS microsecond TOCTOU
    // between separate processes is accepted and documented).
    heldLeases.synchronized {
      heldLeases.get(key) match {
        case Some(h) if h.thread == me =>
          heldLeases(key) = h.copy(depth = h.depth + 1)
        case Some(h) =>
          throw new IllegalStateException(
            s"another writer (thread ${h.thread} of this process) holds " +
              s"the lease on $indexDir — refusing to interleave")
        case None =>
          val token = java.util.UUID.randomUUID().toString
          acquireFileLease(fs, indexDir, token)
          val beat = leaseHeart.scheduleWithFixedDelay(
            () => beatOnce(fs, indexDir, token),
            LeaseBeatMs, LeaseBeatMs,
            java.util.concurrent.TimeUnit.MILLISECONDS)
          heldLeases(key) = Held(me, 1, token, beat)
      }
    }
    var primary: Throwable = null
    try body
    catch { case t: Throwable => primary = t; throw t }
    finally heldLeases.synchronized {
      val h = heldLeases(key)
      if (h.depth > 1) heldLeases(key) = h.copy(depth = h.depth - 1)
      else {
        h.beat.cancel(false)
        heldLeases.remove(key)
        // ownership-checked release: delete ONLY a lease that still
        // carries this acquisition's token. Deleting unconditionally
        // would, after a (manual or stale-misjudged) takeover, remove
        // the USURPER's live lease and open the index to a third
        // writer while the usurper is mid-compaction.
        val p = leasePath(indexDir)
        readLease(fs, p).flatMap(leaseToken) match {
          case Some(t) if t == h.token => fs.delete(p, false); ()
          case Some(other) =>
            val usurped = new IllegalStateException(
              s"lease on $indexDir was taken over mid-operation (now " +
                s"held by token $other) — this writer's commits may " +
                "have interleaved with the new holder's; verify the " +
                "manifest before trusting the index")
            // when the body ALSO failed (typically the fenceCheck on
            // its commit), its exception is the root cause — attach
            // the release's report instead of replacing it from the
            // finally block
            if (primary != null) primary.addSuppressed(usurped)
            else throw usurped
          case None => () // already gone (manual delete) — nothing to release
        }
      }
    }
  }

  // ---- deltas -------------------------------------------------------------

  /** Delta dirs of `kind` with maxCompacted < id < batchId, oldest
    * first. Listing cost is O(deltas since compaction), the bounded
    * quantity the layout is built around. */
  private[streaming] def deltaDirs(sp: SparkSession, indexDir: String,
      kind: String, maxCompacted: Long, batchId: Long): Seq[(Long, String)] = {
    val fs = fsFor(sp, indexDir)
    val p = new Path(s"$indexDir/$kind")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch="))
      .map(d => (d.getName.stripPrefix("batch=").toLong, d.toString))
      .filter { case (id, _) => id > maxCompacted && id < batchId }
      .sortBy(_._1)
  }

  private def bloomPath(indexDir: String, kind: String, name: String) =
    new Path(s"$indexDir/blooms/${kind}_$name.bloom")

  /** Driver-side sidecar cache, keyed by sidecar path. Sidecar files
    * are immutable once written (a foreachBatch retry overwrites a
    * delta with bit-identical content — the write path is
    * deterministic), so entries never go stale; deletes evict. Bounded
    * by eviction at compaction plus a hard cap. */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, BloomFilter]()

  private def cachePut(p: Path, bf: BloomFilter): Unit = {
    if (bloomCache.size > 256) bloomCache.clear()
    bloomCache.put(p.toString, bf); ()
  }

  private def writeBloom(fs: FileSystem, p: Path, bf: BloomFilter): Unit = {
    val out = fs.create(p, true)
    try bf.writeTo(out) finally out.close()
    cachePut(p, bf)
  }

  private def readBloom(fs: FileSystem, p: Path): Option[BloomFilter] =
    Option(bloomCache.get(p.toString)).map(Some(_)).getOrElse {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bf = try BloomFilter.readFrom(in) finally in.close()
        cachePut(p, bf)
        Some(bf)
      }
    }

  private def deleteBloom(fs: FileSystem, p: Path): Unit = {
    fs.delete(p, false)
    bloomCache.remove(p.toString); ()
  }

  /** Driver-resident Bloom sidecars, the soak harnesses' leak gauge
    * (tools.IngestSoak records it per compaction): it must track the
    * live run/delta set (log n by size-tiering + hard cap). */
  private[graft] def bloomCacheSize: Int = bloomCache.size

  // ---- readers ------------------------------------------------------------
  //
  // At-rest schemas: a delta holds `(key)`, a run `(key, hp)` with `hp`
  // its partition column, a tombstone `(key, tb_bound)`.

  private def keySchema(keyName: String): StructType =
    StructType(Seq(StructField(keyName, StringType)))

  /** Zero rows of `schema`: a read of no dirs. */
  private def noRows(sp: SparkSession, schema: StructType): DataFrame =
    sp.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Delta dirs as one scan relation of `keyName`; `scoped` adds each
    * row's source id as `src_id`. Delta dirs are NAMED `batch=<id>`, so
    * with their parent as basePath the source id reads back as the
    * partition column `batch` — one scan however many dirs are live
    * (per-dir reads made sustained takedown pressure cost ~1.6x and GROW
    * with the live-dir count; IngestSoak retractEvery A/B). */
  private def readDeltas(sp: SparkSession, dirs: Seq[String],
      keyName: String, scoped: Boolean): DataFrame = {
    val schema =
      if (scoped) keySchema(keyName).add("batch", LongType)
      else keySchema(keyName)
    val rows =
      if (dirs.isEmpty) noRows(sp, schema)
      else if (!scoped) sp.read.schema(schema).parquet(dirs: _*)
      else {
        // the basePath trick REQUIRES every delta dir to be named
        // `batch=<id>` — guaranteed today because deltaDirs lists only
        // batch=* dirs; if delta naming ever changes, fail here rather
        // than silently reading a wrong src_id scope
        require(dirs.forall(nameOf(_).startsWith("batch=")),
          s"delta dirs must be batch=<id>-named for the partition-" +
            s"column src_id recovery: ${dirs.mkString(", ")}")
        val parent = dirs.head.substring(0, dirs.head.lastIndexOf('/'))
        sp.read.schema(schema).option("basePath", parent).parquet(dirs: _*)
      }
    if (scoped) rows.select(col(keyName), col("batch").as("src_id"))
    else rows
  }

  /** One run dir as `keyName` rows, only the `hp` partitions whose
    * prefix is in `hps` when given; `scoped` adds the run's source id
    * as `src_id`. Suspect prefixes are collected at the MAX width and
    * truncated to the run's own width (self-described by its name), so
    * the `isin` values match its coarser partition values. */
  private def readRun(sp: SparkSession, dir: String,
      keyName: String, scoped: Boolean,
      hps: Option[Seq[String]] = None): DataFrame = {
    val full = sp.read.schema(keySchema(keyName).add("hp", StringType))
      .option("basePath", dir).parquet(dir)
    val w = widthOf(nameOf(dir))
    val rows = hps.fold(full)(ps =>
      full.filter(col("hp").isin(ps.map(_.take(1 + w)).distinct: _*)))
    if (scoped) rows.select(col(keyName), lit(srcIdOf(dir)).as("src_id"))
    else rows.select(col(keyName))
  }

  /** Write one batch's delta of `kind` (distinct single-column `key`
    * rows) plus its Bloom sidecar, both in overwrite mode so a
    * foreachBatch retry leaves them bit-identical. The sidecar is
    * DELIBERATELY built by reading the written delta back: (a) sidecar
    * and rows can never disagree, and (b) the read-back packs the
    * delta's files into ONE scan task, so exactly one BloomFilter is
    * allocated — building from the pre-write frame instead costs one
    * 1.2 MB bloom + merge PER SHUFFLE PARTITION, because AQE cannot
    * coalesce the distinct() inside a streaming foreachBatch (measured:
    * +1.9 s on q_stream_dedup_ingest at 32 partitions). Written
    * rows-first (a retry that crashed between the two re-does both);
    * [[writeBloom]] seeds the driver cache, so later batches read the
    * sidecar from memory, not the FS. */
  private[streaming] def writeDelta(keys: DataFrame, indexDir: String,
      kind: String, batchId: Long): Unit = {
    val sp = keys.sparkSession
    val dir = s"$indexDir/$kind/batch=$batchId"
    keys.write.mode("overwrite").parquet(dir)
    val keyCol = keys.columns.head
    val bf = readDeltas(sp, Seq(dir), keyCol, scoped = false).stat
      .bloomFilter(keyCol, BloomItems, BloomFpp)
    writeBloom(fsFor(sp, indexDir),
      bloomPath(indexDir, kind, s"batch=$batchId"), bf)
  }

  // ---- retraction tombstones ----------------------------------------------

  /** Tombstone dir root for `kind`'s retracted keys. */
  private def tombsDir(indexDir: String, kind: String) =
    s"$indexDir/tombs_$kind"

  /** Register `keys` (single key column) of `kind` for RETRACTION —
    * the gate's takedown: future arrivals of content holding these
    * keys are re-admitted as if never seen. Probes anti-join live
    * tombstones immediately (the Bloom screen may still route a
    * retracted key to the probe — a false positive costs a read, never
    * a wrong decision); [[compact]] folds them into every run it
    * writes and sweeps each tombstone once no live run predates it,
    * plus one reader-retention generation. Overwrite mode per tag →
    * idempotent re-issue. NOTE the key-sharing caveat: a hash/band key
    * shared with OTHER documents is removed for them too (that is what
    * retracting content means for an index keyed by content). The
    * caller holds the writer lease, read `m` under it and checked `tag`
    * with [[Family.requireNewTag]]. */
  private[streaming] def retractKeys(sp: SparkSession, indexDir: String,
      kind: String, keys: DataFrame, tag: String, m: Manifest): Unit =
    keys.distinct()
      .withColumn("tb_bound",
        lit(gateFamily(kind).sourceBound(sp, indexDir, m)))
      .write.mode("overwrite")
      .parquet(s"${tombsDir(indexDir, kind)}/t_$tag")

  /** Source id of a run or delta dir name — the compaction id that
    * wrote a run (`run_<id>_…`) or a delta's batch id (`batch=<id>`),
    * the axis retraction bounds are scoped on. Unrecognized names read
    * 0: conservatively INSIDE every retraction's scope (guessing "new"
    * would resurrect retracted content). */
  private[streaming] def srcIdOf(dir: String): Long = {
    val n = dir.split("/").last
    "run_(\\d+)_\\d+".r.findFirstMatchIn(n).map(_.group(1).toLong)
      .orElse("batch=(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toLong))
      .getOrElse(0L)
  }

  /** Live retraction tombstones of one kind, normalized to
    * (`keyName`, tb_bound): ONE multi-path read of every live dir. A dir
    * written before retractions were source-scoped holds no `tb_bound`;
    * its rows read NULL → MaxValue = "exclude from every source", the
    * pre-scoping behavior. */
  private[streaming] def readTombs(sp: SparkSession, dirs: Seq[String],
      keyName: String): DataFrame =
    sp.read.schema(keySchema(keyName).add("tb_bound", LongType))
      .parquet(dirs: _*)
      .select(col(keyName),
        coalesce(col("tb_bound"), lit(Long.MaxValue)).as("tb_bound"))

  /** Live (not yet swept) tombstone dirs of `kind`. */
  private[streaming] def tombDirs(sp: SparkSession, indexDir: String,
      kind: String): Seq[String] = {
    val fs = fsFor(sp, indexDir)
    val p = new Path(tombsDir(indexDir, kind))
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.toString)
      .filter(_.split("/").last.startsWith("t_")).sorted
  }

  // ---- probe --------------------------------------------------------------

  /** All prior index state of `kind` visible to `batchId`:
    * (live run dirs, delta dirs, Bloom filters if COMPLETE, live
    * retraction-tombstone dirs). An incomplete sidecar set (legacy
    * dirs, mid-write crash) returns None for the blooms — the probe
    * then skips the pre-screen and reads the index exactly, never
    * wrongly. */
  private[streaming] case class Prior(runs: Seq[String],
                                      deltas: Seq[String],
                                      blooms: Option[Seq[BloomFilter]],
                                      tombs: Seq[String] = Nil)

  private[streaming] def prior(sp: SparkSession, indexDir: String,
      kind: String, batchId: Long): Prior = {
    val fs = fsFor(sp, indexDir)
    val m = readManifest(sp, indexDir)
    val runs = m.runs.getOrElse(kind, Nil)
    // a manifest-referenced run dir is guaranteed present (committed
    // before the manifest, retained one generation after supersession)
    // — a missing one is index corruption, and silently probing
    // without it would re-admit every duplicate it held
    runs.find(r => !fs.exists(new Path(s"$indexDir/$kind/${r.name}")))
      .foreach(r => throw new IllegalStateException(
        s"index run $indexDir/$kind/${r.name} is referenced by the " +
          "manifest but missing on disk — the index is corrupted; " +
          "restore it or rebuild from the source feed"))
    val deltas = deltaDirs(sp, indexDir, kind, m.maxCompacted, batchId)
    val runBlooms = runs.map(r =>
      readBloom(fs, bloomPath(indexDir, kind, r.name)))
    val deltaBlooms = deltas.map { case (id, _) =>
      readBloom(fs, bloomPath(indexDir, kind, s"batch=$id")) }
    val all = runBlooms ++ deltaBlooms
    val blooms = if (all.forall(_.isDefined)) Some(all.flatten) else None
    Prior(runs.map(r => s"$indexDir/$kind/${r.name}"),
      deltas.map(_._2), blooms, liveTombDirs(sp, indexDir, kind, m))
  }

  /** Tombstone dirs a CURRENT-manifest reader must anti-join: all t_*
    * dirs on disk EXCEPT the logically-swept (tswept_<kind>) ones —
    * those stay on disk one generation for in-flight readers of the
    * PREVIOUS manifest, but their exclusions are proven applied to
    * every source this manifest references (the sweep condition), so a
    * new probe plan drops them and reaches the tombstone-free fast
    * path a whole generation earlier. (tools.IngestSoak classifies its
    * batches with this same definition.) */
  private[graft] def liveTombDirs(sp: SparkSession, indexDir: String,
      kind: String, manifest: Manifest = null): Seq[String] = {
    val m = if (manifest != null) manifest else readManifest(sp, indexDir)
    val swept = gateFamily(kind).swept(m)
    tombDirs(sp, indexDir, kind).filterNot(d => swept(nameOf(d)))
  }

  /** Exact copy of a Bloom filter (serialize round-trip — the public
    * sketch API has no clone). [[mightContainAny]] must NOT
    * `mergeInPlace` into a cached filter: the mutation would fold other
    * files' keys into the cached bits, inflating the FP rate a little
    * more every batch until the screen routes everything. */
  private def copyOf(bf: BloomFilter): BloomFilter = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bos.toByteArray))
  }

  /** Might `key` appear in ANY of `bfs`? Geometry-compatible filters
    * are OR-merged (into a fresh copy — never mutating a cached
    * filter); the probe is then one UDF broadcast per distinct
    * geometry (merged deltas + per-size run sidecars). */
  private[streaming] def mightContainAny(df: DataFrame,
      bfs: Seq[BloomFilter], key: Column): Column = {
    val groups = bfs.groupBy(_.bitSize()).values.toSeq.map { g =>
      if (g.lengthCompare(1) == 0) g.head
      else g.tail.foldLeft(copyOf(g.head)) { (acc, b) =>
        acc.mergeInPlace(b); acc
      }
    }
    groups.map(bf => graft.text.BloomDedup.probe(df, bf, key))
      .reduceOption(_ || _).getOrElse(lit(false))
  }

  /** Full current-manifest read of `kind` — the reader-side serving
    * frame with no Bloom pre-screen (hps = None) and the live-tombstone
    * anti-join applied. Drill seam for the cross-process MVCC drill
    * (tools.ReaderProbe): the plan — and its pinned file listing — is
    * built against the manifest as of THIS call. */
  private[graft] def readAll(sp: SparkSession, indexDir: String,
      kind: String, keyName: String): DataFrame =
    readPruned(sp, prior(sp, indexDir, kind, Long.MaxValue), keyName, None)

  /** Read prior `kind` rows as a single-column `keyName` frame, pruned:
    * only run partitions whose `hp` appears in `hps` are scanned
    * (deltas are small and unpartitioned — read whole). `hps = None`
    * means "no suspect information" — read everything (exact fallback
    * when sidecars are incomplete). Retracted keys (live tombstones)
    * are anti-joined out — a no-op plan when none exist. */
  private[streaming] def readPruned(sp: SparkSession, pr: Prior,
      keyName: String, hps: Option[Seq[String]]): DataFrame = {
    // the steady no-retraction path keeps the cheapest plan: no
    // per-source bookkeeping. While a retraction is pending every key
    // carries its SOURCE id, so the anti-join can scope the exclusion to
    // pre-retraction sources (a key re-ingested after the retraction
    // must stay visible as dup-screen prior state)
    val scoped = pr.tombs.nonEmpty
    val deltas =
      if (pr.deltas.isEmpty) Nil
      else Seq(readDeltas(sp, pr.deltas, keyName, scoped))
    val all = (pr.runs.map(readRun(sp, _, keyName, scoped, hps)) ++ deltas)
      .reduceOption(_ union _)
      .getOrElse(readDeltas(sp, Nil, keyName, scoped))
    if (!scoped) all
    else antiJoinTombs(all, readTombs(sp, pr.tombs, keyName),
      keyName, pr.tombs).drop("src_id")
  }

  /** Row-count ceiling under which a live tombstone set is broadcast
    * into the serving path's anti-join. Between a retraction and its
    * sweep, EVERY probe/read pays the exclusion — with a handful of
    * tombstoned keys the shuffled anti-join would repartition the whole
    * pruned index scan just to drop a few rows. Broadcasting turns it
    * into a shuffle-free BroadcastHashJoin on the probe side (the ANN
    * index instead holds such a set on the driver and ships it as a
    * task-side predicate); larger tombstone sets (bulk takedowns) keep
    * the shuffled join. */
  val TombBroadcastMax = 10000L

  /** Driver-side cache of what was derived from a live tombstone set —
    * the gate's broadcast-or-shuffle sizing verdict, the ANN index's
    * collected exclusion set — keyed by [[tombKey]]: the serving path
    * would otherwise pay one (tiny) job per probe for as long as a
    * tombstone is live. Bounded by a hard cap like [[bloomCache]]. */
  private val tombCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Cache key of a tombstone DIR SET: each dir's [[dirKey]], plus
    * `extra` (state the cached value also derives from, e.g. a manifest
    * ledger). A new retraction changes the dir set; an overwrite — a
    * not-yet-applied-tag retry, or a tag legitimately REUSED after its
    * sweep (the applied-set check only covers the current manifest) —
    * changes the dir's files. None when a dir cannot be read: such a set
    * has no trustworthy identity, so nothing is cached under it (a
    * placeholder key would pin whatever the first caller derived to
    * every later unreadable state). */
  private[streaming] def tombKey(sp: SparkSession, dirs: Seq[String],
      extra: String): Option[String] = {
    val keys = dirs.sorted.map(dirKey(sp, _))
    if (keys.exists(_.isEmpty)) None
    else Some(keys.flatten.mkString("|") + "#" + extra)
  }

  /** Identity of one written dir — a tombstone dir, or an ANN run or
    * delta with its `cell=` subdirs: its qualified path and modification
    * time, and the relative path and byte length of every file under it.
    * A rewrite in place (an overwrite-mode retry, a delta rewritten under
    * its batch id) changes it even within one mtime tick: Spark names each
    * written file after its write job, and the lengths catch a rewrite
    * that keeps the names. None when the dir cannot be read. */
  private[streaming] def dirKey(sp: SparkSession, dir: String)
      : Option[String] =
    try {
      val fs = fsFor(sp, dir)
      val root = fs.makeQualified(new Path(dir))
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(p: Path, rel: String): Unit =
        fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
          val r = rel + st.getPath.getName
          if (st.isDirectory) walk(st.getPath, r + "/")
          else files += s"$r:${st.getLen}"
        }
      walk(root, "")
      Some(s"$root@${fs.getFileStatus(root).getModificationTime}@" +
        files.mkString(","))
    } catch { case _: java.io.IOException => None }

  /** `derive()` for the tombstone set `dirs` (+ `extra`), computed once
    * per [[tombKey]] and recomputed on every call when the key cannot be
    * built. `kind` separates the callers' value types in one cache. */
  private[streaming] def tombCached[T <: AnyRef](sp: SparkSession,
      dirs: Seq[String], kind: String, extra: String)(derive: => T): T =
    tombKey(sp, dirs, extra) match {
      case None => derive
      case Some(k0) =>
        val k = s"$kind:$k0"
        Option(tombCache.get(k)).map(_.asInstanceOf[T]).getOrElse {
          val v = derive
          tombPut(k, v)
          v
        }
    }

  private def tombPut(k: String, v: AnyRef): Unit = {
    if (tombCache.size > 256) tombCache.clear()
    tombCache.put(k, v); ()
  }

  /** What [[tombCached]] holds for the tombstone set `dirs` (+ `extra`),
    * without deriving it. */
  private[streaming] def tombHeld[T <: AnyRef](sp: SparkSession,
      dirs: Seq[String], kind: String, extra: String): Option[T] =
    tombKey(sp, dirs, extra)
      .flatMap(k => Option(tombCache.get(s"$kind:$k")).map(_.asInstanceOf[T]))

  /** Hold `v` as what [[tombCached]] derives for the tombstone set `dirs`
    * (+ `extra`): a writer that knows the new set's content puts it in
    * place, so the next reader derives nothing. */
  private[streaming] def tombHold(sp: SparkSession, dirs: Seq[String],
      kind: String, extra: String, v: AnyRef): Unit =
    tombKey(sp, dirs, extra).foreach(k => tombPut(s"$kind:$k", v))

  /** Is the tombstone set `dirs` (rows `tombs`) at most
    * [[TombBroadcastMax]] rows? An early-exit limit+count, cached per
    * [[tombKey]]. */
  private[streaming] def tombsSmall(sp: SparkSession, dirs: Seq[String],
      tombs: => DataFrame): Boolean =
    tombCached(sp, dirs, "small", "")(java.lang.Boolean.valueOf(
      tombs.limit(TombBroadcastMax.toInt + 1).count() <= TombBroadcastMax))
      .booleanValue

  /** Anti-join `rows` (which must carry a `src_id` column) against
    * normalized (`keyName`, tb_bound) tombstones, broadcasting the
    * tombstone side when it is small (≤ [[TombBroadcastMax]] rows —
    * checked with an early-exit limit+count through [[tombsSmall]]'s
    * cache, so the sizing probe runs once per live tombstone set, not
    * once per probe). The exclusion is SOURCE-SCOPED: only rows whose
    * source predates the retraction's bound match — the key equality
    * stays the hash-join key, the bound rides as the join's extra
    * condition. */
  private[streaming] def antiJoinTombs(rows: DataFrame, tombs: DataFrame,
      keyName: String, dirs: Seq[String]): DataFrame = {
    val t = (if (tombsSmall(rows.sparkSession, dirs, tombs))
      broadcast(tombs) else tombs)
      .withColumnRenamed(keyName, "tb_k")
    rows.join(t,
      rows(keyName) === t("tb_k") && rows("src_id") < t("tb_bound"),
      "left_anti")
  }

  /** The full routed probe for one kind: Bloom-screen `keys` (single
    * key column) against `pr`, collect the suspects' hash prefixes,
    * return the pruned prior rows to exact-join against. With complete
    * sidecars and zero suspects this reads NO index bytes at all. */
  private[streaming] def probeRows(sp: SparkSession, pr: Prior,
      keys: DataFrame, keyName: String): DataFrame = {
    if (pr.runs.isEmpty && pr.deltas.isEmpty)
      return noRows(sp, keySchema(keyName))
    val hps: Option[Seq[String]] = pr.blooms match {
      case Some(bfs) =>
        val suspects = keys
          .filter(mightContainAny(keys, bfs, col(keyName)))
        Some(suspects
          .select(hpOf(col(keyName)).as("hp"))
          .distinct().collect().map(_.getString(0)).toSeq)
      case None => None // incomplete sidecars: exact unpruned fallback
    }
    if (hps.exists(_.isEmpty)) noRows(sp, keySchema(keyName))
    else readPruned(sp, pr, keyName, hps)
  }

  // ---- run tiering and tombstone ledger -----------------------------------
  //
  // The one manifest policy of both streaming indexes, this gate and
  // [[AnnIngest]]: a compaction folds the new deltas into a run, merges
  // runs binary-counter style ([[mergeSameClass]]), applies and sweeps
  // tombstones through the family's two-phase ledger ([[Cycle]]), and
  // keeps superseded dirs one generation. What each index keeps to
  // itself: how it reads and writes its dirs and which tombstone dirs it
  // lists, the gate's Bloom sidecars, and the ANN index's centroid
  // files, skew reports and heal tombstones.

  /** Last path segment of a dir: a run, delta or tombstone dir's name. */
  private[streaming] def nameOf(dir: String): String = dir.split("/").last

  /** Power-of-two size class for the binary-counter merge policy. */
  private def sizeClass(rows: Long): Int =
    63 - java.lang.Long.numberOfLeadingZeros(math.max(rows, 1L))

  /** Binary-counter merge (Bentley–Saxe): while ANY adjacent pair of the
    * size-sorted `runs` shares a size class, `merge` writes that pair as
    * one run (dedup shrinks: a row in both counts once), so the live set
    * keeps ≤ log₂(n) runs of geometrically separated sizes and the
    * biggest run is rewritten only when the index doubles. Scanning ALL
    * positions, not just the two smallest, matters when a fold lands
    * directly in an occupied HIGHER class (runs [2,5] + a new class-5
    * fold): a bottom-pair-only loop exits on the 2-vs-5 mismatch and
    * leaves the 5/5 pair unmerged forever. A fully-tombstoned merge
    * comes out with zero rows and is dropped (its unreferenced dir is
    * collected as superseded) instead of looping on an empty class.
    * Returns the runs, biggest first, and the rows the merges read —
    * [[CompactStats]]' `merged`. */
  private[streaming] def mergeSameClass(runs: Seq[Run])(
      merge: (Run, Run) => Run): (Seq[Run], Long) = {
    @annotation.tailrec
    def loop(rs: Seq[Run], mergedRows: Long): (Seq[Run], Long) = {
      val sorted = rs.sortBy(r => (r.rows, r.name))
      (0 until sorted.length - 1).find(i =>
        sizeClass(sorted(i).rows) == sizeClass(sorted(i + 1).rows)) match {
        case None => (sorted.sortBy(-_.rows), mergedRows)
        case Some(i) =>
          val (a, b) = (sorted(i), sorted(i + 1))
          val merged = merge(a, b)
          loop(sorted.patch(i, Seq(merged).filter(_.rows > 0), 2),
            mergedRows + a.rows + b.rows)
      }
    }
    loop(runs, 0L)
  }

  /** The manifest keys of one index family: its run list (`runs`) and its
    * tombstone ledger. `tombs` records each applied, live tombstone dir
    * with the id of the compaction that FIRST applied it; `tswept` each
    * logically swept dir awaiting physical deletion, with the same
    * first-applied id (readers of the ANN index still anti-join a swept
    * dir for one generation and take a heal tombstone's source scope
    * from this record; a sweep id there would widen the scope and hide a
    * row re-ingested into its old cell for that window). */
  private[streaming] final case class Family(runs: String, tombs: String,
      tswept: String) {

    /** Every tombstone record of `m`, live or swept. */
    def applied(m: Manifest): Seq[Run] =
      m.runs.getOrElse(tombs, Nil) ++ m.runs.getOrElse(tswept, Nil)

    /** Names of `m`'s logically swept tombstone dirs. */
    def swept(m: Manifest): Set[String] =
      m.runs.getOrElse(tswept, Nil).map(_.name).toSet

    /** Check a new tombstone's `tag` against `m`: the name must be a
      * plain dir token, and a tag a compaction already APPLIED is
      * refused. The sweep proves runs clean of what was applied UNDER
      * THAT NAME, so extending an applied tag could sweep before the new
      * keys are removed, silently undoing a takedown. Overwriting a
      * not-yet-applied tag stays allowed (the idempotent-retry shape). */
    def requireNewTag(m: Manifest, tag: String): Unit = {
      require(tag.matches("[A-Za-z0-9_\\-]+"),
        s"tombstone tag must be [A-Za-z0-9_-]+, got '$tag'")
      if (applied(m).exists(_.name == s"t_$tag"))
        throw new IllegalArgumentException(
          s"tombstone tag '$tag' was already applied by a compaction — " +
            "issue the additional keys under a fresh tag")
    }

    /** Source bound (`tb_bound`) of a tombstone written now, under the
      * lease that read `m`: one past every run and delta id that exists,
      * so the tombstone removes its keys from the sources that exist NOW
      * only. Without the bound it also hid the keys' own RE-INGESTION
      * until the sweep (fresh content under a recycled id, or
      * re-admitted retracted content whose later arrivals must screen
      * as its duplicates), and a compaction in that window physically
      * dropped the fresh copy. Writers are lease-serialized, so every
      * later batch or compaction id is above it. */
    def sourceBound(sp: SparkSession, indexDir: String, m: Manifest): Long =
      1L + math.max(m.maxCompacted,
        deltaDirs(sp, indexDir, runs, m.maxCompacted, Long.MaxValue)
          .map(_._1).maxOption.getOrElse(-1L))

    /** Open compaction `upTo` over the previous manifest `m`, `dirs`
      * being the family's tombstone dirs on disk. */
    def open(m: Manifest, dirs: Seq[String], upTo: Long): Cycle =
      new Cycle(this, m, dirs, upTo)
  }

  /** The gate's family for key kind `kind`, and the ANN index's. */
  private[streaming] def gateFamily(kind: String): Family =
    Family(kind, s"tombs_$kind", s"tswept_$kind")
  private[streaming] val AnnFamily = Family("vectors", "tombs", "tswept")

  /** One compaction `upTo` of one family against the previous manifest
    * `m`. */
  private[streaming] final class Cycle(fam: Family, m: Manifest,
      dirs: Seq[String], upTo: Long) {
    private val prevTombs = m.runs.getOrElse(fam.tombs, Nil)

    /** The tombstone dirs every run this compaction writes excludes: all
      * on disk except the logically swept ones, which are not re-applied. */
    val live: Seq[String] = {
      val swept = fam.swept(m)
      dirs.filterNot(d => swept(nameOf(d)))
    }

    /** Ledger records of [[live]]: the first-applied id carried over, or
      * `upTo` for a tombstone this compaction applies first. Every run
      * written from here on excludes it, so a run whose creation id
      * (`run_<id>_…`) is ≥ that id is physically clean of it. */
    private val records = live.map { d =>
      val n = nameOf(d)
      prevTombs.find(_.name == n).getOrElse(Run(n, upTo))
    }

    /** Delete the dirs (under `root`) that `m` swept logically, BEFORE
      * the manifest dropping their `tswept` records is published. The
      * reverse order leaves a crash window (manifest published, dirs
      * still on disk with no record) in which the next compaction reads
      * an undeleted dir as a brand-new LIVE tombstone and silently
      * re-removes keys legitimately re-ingested after the sweep; this
      * order leaves at worst gone dirs still named in `tswept`, which the
      * next cycle drops as a no-op. */
    def deleteSwept(fs: FileSystem, root: String): Unit =
      fam.swept(m).foreach(name => fs.delete(new Path(s"$root/$name"), true))

    /** Is the dir `name` of this family superseded once the new manifest
      * (run set `runsNow`) is published? One-generation retention
      * (MVCC-lite): a delta `m` had already folded, or a run neither `m`
      * nor the new manifest references (2-generations-old merges and
      * crashed-compaction orphans). Dirs superseded by THIS compaction
      * stay until the next one, so a reader that planned its scan
      * against `m` only needs to finish within one compaction interval.
      * Deltas are judged by id, not by `m`'s live set, so a
      * retry-rewritten delta is still collected, never orphaned. */
    def superseded(runsNow: Seq[Run])(name: String): Boolean =
      if (name.startsWith("batch="))
        name.stripPrefix("batch=").toLong <= m.maxCompacted
      else (name.startsWith("run_") || name.startsWith("base_v")) &&
        !(runsNow ++ m.runs.getOrElse(fam.runs, Nil)).exists(_.name == name)

    /** The family's entries of the new manifest: `runsNow`, the live
      * tombstones still pending plus `added` (tombstones written by this
      * compaction itself), and the newly swept ones. Two-phase sweep, so
      * readers get the same one-generation grace as runs: a tombstone is
      * LOGICALLY swept once every live run postdates-or-equals its first
      * application AND that already held at `m`; it moves to `tswept`
      * (its files stay, in-flight readers still anti-join them
      * harmlessly) and is PHYSICALLY deleted by the next cycle's
      * [[deleteSwept]]. */
    def entries(runsNow: Seq[Run], added: Seq[Run] = Nil)
        : Map[String, Seq[Run]] = {
      def allClean(rs: Seq[Run], appliedAt: Long): Boolean =
        rs.forall(r => "run_(\\d+)_".r.findFirstMatchIn(r.name)
          .exists(_.group(1).toLong >= appliedAt))
      val (sweep, keep) = records.partition { tb =>
        prevTombs.exists(_.name == tb.name) &&
          allClean(m.runs.getOrElse(fam.runs, Nil), tb.rows) &&
          allClean(runsNow, tb.rows)
      }
      Map(fam.runs -> runsNow, fam.tombs -> (keep ++ added),
        fam.tswept -> sweep).filter(_._2.nonEmpty)
    }
  }

  // ---- compaction ---------------------------------------------------------

  /** Write `df`'s distinct keys as an hp-partitioned run named
    * `<baseName>_w<width>`, sidecar sized to the true row count. One
    * shuffle keyed on hp → ~one file per populated partition. The
    * distinct keys are persisted and COUNTED FIRST: the row count
    * picks the run's hp width ([[widthFor]] — small runs write 16
    * partition dirs, not 256, removing the old fixed-geometry
    * compaction floor), and the count is deterministic, so a
    * compaction retry rewrites the same name with the same content.
    * The bloom sidecar is still built from a read-back of the written
    * files (one packed scan task → exactly one filter allocated; see
    * [[writeDelta]]). `forceWidth` lets specs exercise the wide-run
    * geometry without a million-key corpus. */
  private[streaming] def writeRun(sp: SparkSession, indexDir: String,
      kind: String, keyName: String, baseName: String, df: DataFrame,
      forceWidth: Option[Int] = None,
      rowsHint: Option[Long] = None): Run = {
    // `rowsHint` (an input-row upper bound the caller reads off the
    // manifest / delta footers) derives the shuffle width of the
    // distinct + hp exchange — compactions run inside foreachBatch
    // where AQE is off, so these otherwise keep the full configured
    // width however small the fold is (Spread.withBatchWidth caps at
    // the session width: identical at production run sizes)
    def body(): Run = {
    val keys = df.select(col(keyName)).distinct().persist()
    try {
      val n = keys.count()
      val w = forceWidth.getOrElse(widthFor(n))
      val name = s"${baseName}_w$w"
      val dir = s"$indexDir/$kind/$name"
      keys.withColumn("hp", hpOf(col(keyName), w))
        .repartition(col("hp"))
        .write.mode("overwrite").partitionBy("hp").parquet(dir)
      if (n > 0) {
        val bf = readRun(sp, dir, keyName, scoped = false).stat
          .bloomFilter(keyName, math.max(n, BloomItems), BloomFpp)
        writeBloom(fsFor(sp, indexDir), bloomPath(indexDir, kind, name), bf)
      }
      Run(name, n)
    } finally { keys.unpersist(false); () }
    }
    rowsHint match {
      case Some(h) => graft.ops.Spread.withBatchWidth(sp, h)(body())
      case None => body()
    }
  }

  /** Per-kind wall-cost summary of one [[compact]] call — what the
    * leveled-compaction soak reports: `folded` rows came from deltas
    * (≈ batch-sized), `merged` rows were rewritten by same-size-class
    * run merges (binary-counter amortized: O(log n) rewrites per key
    * over the index lifetime), `total` is the live index size. */
  final case class CompactStats(folded: Long, merged: Long, total: Long)

  /** Fold every delta with id ≤ `upTo` into a new run per kind, merge
    * same-size-class runs, apply and sweep retraction tombstones, commit
    * the new run set via the manifest pointer, then delete what it
    * superseded: the run and tombstone policy shared with the ANN index
    * ([[mergeSameClass]], [[Cycle]]). Safe to re-run (idempotent: the
    * same version rewrites the same run names with the same content;
    * probes meanwhile see the committed manifest's runs + still-present
    * deltas, and duplicate membership rows cannot change a decision).
    * NOT a full-base rewrite: a normal cycle costs O(deltas); the biggest
    * run is only rewritten when the corpus has doubled since it was
    * built. Bloom sidecars of the written runs are this index's own, and
    * are deleted with their dirs. */
  def compact(sp: SparkSession, indexDir: String, upTo: Long)
      : Map[String, CompactStats] =
    withWriterLease(sp, indexDir)(compactLocked(sp, indexDir, upTo))

  private def compactLocked(sp: SparkSession, indexDir: String, upTo: Long)
      : Map[String, CompactStats] = {
    val fs = fsFor(sp, indexDir)
    val m = readManifest(sp, indexDir)
    if (upTo <= m.maxCompacted) return Map.empty
    val results = Kinds.map { kind =>
      val keyName = if (kind == "hashes") "h" else "bk"
      val deltas = deltaDirs(sp, indexDir, kind, m.maxCompacted, upTo + 1)
      var seq = 0
      def nextName(): String = { val n = s"run_${upTo}_$seq"; seq += 1; n }
      val cycle = gateFamily(kind).open(m, tombDirs(sp, indexDir, kind), upTo)
      val tombPaths = cycle.live
      // SOURCE-SCOPED clean (input rows carry src_id): only pre-bound
      // copies of a retracted key are dropped — a key re-ingested
      // after the retraction keeps living in the index as dup-screen
      // prior state, so later arrivals of the re-admitted content are
      // still flagged as duplicates
      // with no live tombstone the fold/merge inputs stay in the
      // cheapest shape (single multi-path scans, no per-source tag);
      // the scoped shape is paid only while a retraction is pending
      val clean: DataFrame => DataFrame =
        if (tombPaths.isEmpty) identity
        else {
          val ids = readTombs(sp, tombPaths, keyName)
          df => antiJoinTombs(df, ids, keyName, tombPaths).drop("src_id")
        }
      val fold = if (deltas.isEmpty) None else {
        // input-row upper bound straight off the parquet footers —
        // driver-side, no job (the count() this replaces was one more
        // serialized job per compaction per kind); derives the fold's
        // shuffle width. Long.MaxValue = "unknown, keep full width"
        // (withBatchWidth saturates).
        val deltaRows =
          try footerRows(sp, deltas.map(_._2))
          catch { case _: Throwable => Long.MaxValue }
        Some(writeRun(sp, indexDir, kind, keyName, nextName(),
          clean(readDeltas(sp, deltas.map(_._2), keyName,
            scoped = tombPaths.nonEmpty)), rowsHint = Some(deltaRows)))
      }
      val (runs, mergedRows) = mergeSameClass(
          m.runs.getOrElse(kind, Nil) ++ fold.filter(_.rows > 0)) { (a, b) =>
        def side(r: Run) = readRun(sp, s"$indexDir/$kind/${r.name}",
          keyName, scoped = tombPaths.nonEmpty)
        writeRun(sp, indexDir, kind, keyName, nextName(),
          clean(side(a).union(side(b))), rowsHint = Some(a.rows + b.rows))
      }
      (kind, cycle, runs, CompactStats(fold.map(_.rows).getOrElse(0L),
        mergedRows, runs.map(_.rows).sum))
    }
    results.foreach { case (kind, cycle, _, _) =>
      cycle.deleteSwept(fs, tombsDir(indexDir, kind)) }
    writeManifest(sp, indexDir, Manifest(upTo,
      results.flatMap { case (_, cycle, runs, _) => cycle.entries(runs) }
        .toMap, m.cents))
    results.foreach { case (kind, cycle, runs, _) =>
      val dir = new Path(s"$indexDir/$kind")
      if (fs.exists(dir))
        fs.listStatus(dir).map(_.getPath.getName)
          .filter(cycle.superseded(runs)).foreach { n =>
            fs.delete(new Path(dir, n), true)
            deleteBloom(fs, bloomPath(indexDir, kind, n))
          }
    }
    results.map { case (kind, _, _, stats) => kind -> stats }.toMap
  }

  /** Does `indexDir` hold state from a previous run? (Restart-guard
    * probe for [[StreamOps.dedupIngestStream]].) */
  private[streaming] def nonEmpty(sp: SparkSession, indexDir: String)
      : Boolean = {
    val fs = fsFor(sp, indexDir)
    fs.exists(new Path(s"$indexDir/manifest.json")) ||
      Kinds.exists { kind =>
        val p = new Path(s"$indexDir/$kind")
        fs.exists(p) && fs.listStatus(p)
          .exists(_.getPath.getName.startsWith("batch="))
      }
  }
}
