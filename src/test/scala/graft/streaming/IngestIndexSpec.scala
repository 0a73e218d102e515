package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ingest-gate index layout (IngestIndex): compaction equivalence,
  * partition-pruned probes, Bloom zero-read routing, the
  * restart-without-checkpoint guard, and the checkpointed stop/restart
  * drill. This is the spec behind the "per-batch cost independent of
  * stream history" claim — structure asserted here, wall-time flatness
  * measured by tools.IngestSoak (BENCH_SCALE.md). */
class IngestIndexSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def decisions(outDir: String) =
    spark.read.parquet(outDir)
      .select("doc_id", "dup_exact", "dup_near", "kept")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3)))
      .sorted.toSeq

  /** Run dirs of `kind` on disk, live or retained: the kind dir's
    * `run_*` and `base_v*` entries. */
  private def runDirsOnDisk(idx: String, kind: String): Seq[String] =
    Option(new java.io.File(s"$idx/$kind").list()).toSeq.flatten
      .filter(n => n.startsWith("run_") || n.startsWith("base_v"))

  private def mkBatches(n: Int): Seq[(Long, org.apache.spark.sql.DataFrame)] =
    (0 until n).map { b =>
      b.toLong -> docs(
        // one doc duplicating batch 0's seed, one unique per batch
        (10L * b + 1) -> "seed text shared by the very first batch here",
        (10L * b + 2) -> s"unique content belonging to batch $b only")
    }

  test("compaction is decision-invariant: interleaving compact() " +
    "between batches yields bit-identical verdicts, folds deltas away, " +
    "and later batches keep matching against compacted state") {
    val t1 = java.nio.file.Files.createTempDirectory("graft_ii1").toString
    val t2 = java.nio.file.Files.createTempDirectory("graft_ii2").toString
    val batches = mkBatches(5)
    // run A: no compaction
    batches.foreach { case (id, b) =>
      StreamOps.ingestBatch(b, id, s"$t1/idx", s"$t1/out") }
    // run B: compact after every second batch
    batches.foreach { case (id, b) =>
      StreamOps.ingestBatch(b, id, s"$t2/idx", s"$t2/out")
      if ((id + 1) % 2 == 0) IngestIndex.compact(spark, s"$t2/idx", id)
    }
    assert(decisions(s"$t2/out") === decisions(s"$t1/out"))
    // batch 0's seed was flagged in every later batch
    assert(decisions(s"$t2/out").count(d => d._2 && !d._4) === 4)
    // layout: manifest committed at upTo=3 (last compact at id=3), the
    // two same-size-class runs from the two compactions were merged
    // into one; the PROBE view sees only delta batch=4 (mc filter),
    // while one-generation retention keeps the just-superseded dirs on
    // disk until the NEXT compaction (deltas 2-3, run_1_0) so an
    // in-flight reader of the previous manifest survives the cleanup
    val m = IngestIndex.readManifest(spark, s"$t2/idx")
    assert(m.maxCompacted === 3L)
    assert(m.runs("hashes").map(_.rows) === Seq(5L)) // seed + 4 uniques
    IngestIndex.Kinds.foreach { kind =>
      val live = IngestIndex.deltaDirs(spark, s"$t2/idx", kind,
        m.maxCompacted, Long.MaxValue).map(_._1)
      assert(live === Seq(4L), s"$kind probe-visible deltas")
      val onDisk = IngestIndex.deltaDirs(spark, s"$t2/idx", kind, -1L,
        Long.MaxValue).map(_._1)
      assert(onDisk === Seq(2L, 3L, 4L),
        s"$kind one-generation delta retention")
      assert(runDirsOnDisk(s"$t2/idx", kind)
        .sorted === (m.runs(kind).map(_.name) :+ "run_1_0_w1").sorted,
        s"$kind retains the previous manifest's run one generation")
    }
    // compacted run is hp-partitioned and holds every distinct hash
    val runDir = s"$t2/idx/hashes/${m.runs("hashes").head.name}"
    val runDf = spark.read.option("basePath", runDir).parquet(runDir)
    assert(runDf.columns.toSet === Set("h", "hp"))
    assert(runDf.schema("hp").dataType ===
      org.apache.spark.sql.types.StringType) // the "x" prefix guard
    val allH = spark.read.parquet(s"$t2/idx/hashes/batch=4")
      .union(runDf.select("h"))
      .distinct().count()
    assert(allH === 6L) // 1 shared seed + 5 unique texts
  }

  test("leveled compaction: a small compaction folds only its deltas — " +
    "the biggest run survives by name, and run sizes tier geometrically " +
    "(binary counter), so compaction cost tracks delta size, not index " +
    "size") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii6").toString
    val idx = s"$t/idx"
    // 8 batches of 4 UNIQUE docs each (low-duplicate feed — the index
    // grows linearly, the regime where full-base-rewrite compaction
    // degrades), compacting after every batch
    var statsLog = Vector.empty[IngestIndex.CompactStats]
    var runsLog = Vector.empty[Seq[IngestIndex.Run]]
    (0 until 8).foreach { b =>
      val batch = docs((0 until 4).map { i =>
        val id = 10L * b + i
        id -> s"totally unique document $id with body ${id * 37}"
      }: _*)
      StreamOps.ingestBatch(batch, b.toLong, idx, s"$t/out")
      statsLog :+= IngestIndex.compact(spark, idx, b.toLong)("hashes")
      runsLog :+= IngestIndex.readManifest(spark, idx).runs("hashes")
    }
    // binary counter at t=6 (28 docs): runs of 16, 8, 4 — and the
    // 16-row run is the one BUILT AT t=3, untouched by compactions
    // 4–6 (the property full-base rewrite lacked: the biggest run is
    // only rewritten when the corpus doubles)
    assert(runsLog(6).map(_.rows) === Seq(16L, 8L, 4L))
    assert(runsLog(6).head.name.startsWith("run_3_"),
      s"the 16-run should survive from t=3: ${runsLog(6)}")
    // at t=7 the counter carries: everything cascades into one 32-run
    assert(runsLog(7).map(_.rows) === Seq(32L))
    // every compaction folded exactly its delta; merge traffic follows
    // the binary counter (0 when the low size classes are empty), so
    // compaction cost tracks delta size except at the exponentially
    // rare carry points
    assert(statsLog.map(_.folded) === Vector.fill(8)(4L))
    assert(statsLog.map(_.merged) ===
      Vector(0L, 8L, 0L, 24L, 0L, 8L, 0L, 56L))
    // total rewrite traffic 96 = n·log2(n/batch) — the full-rewrite
    // policy's prior-base traffic for the same feed is 112 and grows
    // quadratically with batch count, the binary counter's n·log n
  }

  test("binary-counter merge closes same-class pairs ABOVE the bottom: " +
    "a fold landing directly in an occupied higher size class still " +
    "merges, keeping the run count <= log2(n)") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii11").toString
    val idx = s"$t/idx"
    def uniq(b: Int, n: Int) = docs((0 until n).map { i =>
      val id = 100L * b + i
      id -> s"distinct body $id never repeated ${id * 13}"
    }: _*)
    // t=0: 4 docs -> run of 4 (class 2)
    StreamOps.ingestBatch(uniq(0, 4), 0L, idx, s"$t/out")
    IngestIndex.compact(spark, idx, 0L)
    // t=1: 40 docs -> runs [40 (class 5), 4 (class 2)] — no pair
    StreamOps.ingestBatch(uniq(1, 40), 1L, idx, s"$t/out")
    IngestIndex.compact(spark, idx, 1L)
    assert(IngestIndex.readManifest(spark, idx).runs("hashes")
      .map(_.rows) === Seq(40L, 4L))
    // t=2: another 40-doc fold lands in class 5 NEXT TO the existing
    // 40-run while the bottom pair (4 vs 40) mismatches — the
    // bottom-pair-only policy would leave [40, 40, 4] forever
    StreamOps.ingestBatch(uniq(2, 40), 2L, idx, s"$t/out")
    IngestIndex.compact(spark, idx, 2L)
    assert(IngestIndex.readManifest(spark, idx).runs("hashes")
      .map(_.rows) === Seq(80L, 4L),
      "the 40/40 pair above the bottom must merge")
  }

  test("swept-tombstone crash window: dirs are deleted BEFORE the " +
    "manifest drops their tswept records, so the crash state is " +
    "dir-gone + old-manifest-names-it — which the next compaction " +
    "drops as a no-op instead of resurrecting the tombstone") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii12").toString
    val idx = s"$t/idx"; val out = s"$t/out"
    val seed = "crash window document text to retract and re-admit"
    StreamOps.ingestBatch(docs(1L -> seed), 0L, idx, out)
    StreamOps.retractDocs(docs(9L -> seed), idx, "crashcase")
    IngestIndex.compact(spark, idx, 0L) // applies
    StreamOps.ingestBatch(docs(
      2L -> "filler to advance the counter one"), 1L, idx, out)
    IngestIndex.compact(spark, idx, 1L) // logical sweep -> tswept
    val m = IngestIndex.readManifest(spark, idx)
    assert(m.runs("tswept_hashes").map(_.name) === Seq("t_crashcase"))
    // simulate the fixed ordering's crash point: compact #3 deletes the
    // tswept dirs FIRST, then crashes before publishing — dirs gone,
    // manifest still lists them in tswept
    IngestIndex.tombDirs(spark, idx, "hashes").foreach { d =>
      def rm(p: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).iterator().asScala.toSeq.foreach(rm)
        java.nio.file.Files.deleteIfExists(p); ()
      }
      rm(java.nio.file.Paths.get(d))
    }
    // the retracted seed re-ingested after the crash...
    StreamOps.ingestBatch(docs(3L -> seed), 2L, idx, out)
    // ...survives the recovery compaction: the stale tswept record is
    // dropped, nothing is re-applied, and the seed stays indexed
    IngestIndex.compact(spark, idx, 2L)
    val m2 = IngestIndex.readManifest(spark, idx)
    assert(m2.runs.get("tswept_hashes").isEmpty &&
      m2.runs.get("tombs_hashes").isEmpty)
    StreamOps.ingestBatch(docs(4L -> seed), 3L, idx, out)
    val d4 = spark.read.parquet(out)
      .filter(col("doc_id") === 4L).select("dup_exact").head().getBoolean(0)
    assert(d4, "re-ingested seed must stay indexed — a resurrected " +
      "tombstone would have silently re-retracted it")
  }

  test("small live tombstone sets broadcast into the serving path: the " +
    "probe's anti-join is a shuffle-free BroadcastHashJoin, decisions " +
    "unchanged") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii13").toString
    val idx = s"$t/idx"; val out = s"$t/out"
    mkBatches(3).foreach { case (id, b) =>
      StreamOps.ingestBatch(b, id, idx, out) }
    StreamOps.retractDocs(docs(
      99L -> "seed text shared by the very first batch here"), idx, "bc")
    val pr = IngestIndex.prior(spark, idx, "hashes", 3L)
    assert(pr.tombs.nonEmpty)
    val read = IngestIndex.readPruned(spark, pr, "h", None)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti") && !plan.contains("SortMergeJoin"),
      s"small tombstone set must broadcast, not shuffle:\n$plan")
    // the exclusion itself is unchanged: the seed's hash is gone
    val seedHash = docs(0L ->
      "seed text shared by the very first batch here")
      .select(md5(col("text").cast("binary"))).head().getString(0)
    assert(read.filter(col("h") === seedHash).count() === 0L)
  }

  test("one-generation retention: a reader planned against manifest " +
    "version K executes correctly after version K+1 commits and cleans " +
    "up; two compactions later the K dirs are gone") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii7").toString
    val idx = s"$t/idx"
    def batch(b: Long) = docs(
      (10 * b + 1) -> s"reader survival doc one of batch $b",
      (10 * b + 2) -> s"reader survival doc two of batch $b")
    (0L to 1L).foreach(b => StreamOps.ingestBatch(batch(b), b, idx, s"$t/out"))
    IngestIndex.compact(spark, idx, 1L) // version K: run over batches 0-1
    StreamOps.ingestBatch(batch(2L), 2L, idx, s"$t/out")
    // plan a scan against version K (manifest + delta listing as of now)
    val prK = IngestIndex.prior(spark, idx, "hashes", 3L)
    val readerK = IngestIndex.readPruned(spark, prK, "h", None)
    // version K+1 commits and cleans up while readerK is un-executed
    StreamOps.ingestBatch(batch(3L), 3L, idx, s"$t/out")
    IngestIndex.compact(spark, idx, 3L)
    // the K-planned scan still executes: its run dir + delta survived
    assert(readerK.count() === 6L) // batches 0-2, 2 docs each, distinct
    // ...but after ANOTHER compaction the K generation is collected
    StreamOps.ingestBatch(batch(4L), 4L, idx, s"$t/out")
    IngestIndex.compact(spark, idx, 4L)
    val names = runDirsOnDisk(idx, "hashes")
    assert(!names.exists(_.startsWith("run_1_")),
      s"version-K run must be collected two generations later: $names")
    // the live view is intact through all of it
    val m = IngestIndex.readManifest(spark, idx)
    assert(m.maxCompacted === 4L)
    assert(IngestIndex.readPruned(spark,
      IngestIndex.prior(spark, idx, "hashes", 5L), "h", None)
      .distinct().count() === 10L)
  }

  test("probe plan prunes: suspect hash prefixes become partition " +
    "filters on the base scan; a bloom-clean batch reads no index at all") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii3").toString
    val idx = s"$t/idx"
    mkBatches(4).foreach { case (id, b) =>
      StreamOps.ingestBatch(b, id, idx, s"$t/out") }
    IngestIndex.compact(spark, idx, 3L)
    val pr = IngestIndex.prior(spark, idx, "hashes", 4L)
    assert(pr.runs.lengthCompare(1) == 0 && pr.deltas.isEmpty &&
      pr.blooms.isDefined)
    // (a) pruned read: pick one REAL hp, assert the scan carries it as
    // a partition filter and returns only that partition's rows
    val w = IngestIndex.widthOf(pr.runs.head.split("/").last)
    val one = spark.read
      .option("basePath", pr.runs.head).parquet(pr.runs.head)
      .select("hp").head().getString(0)
    val pruned = IngestIndex.readPruned(spark, pr, "h", Some(Seq(one)))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(one),
      s"expected hp partition filter in plan:\n$plan")
    assert(pruned.collect().map(_.getString(0))
      .forall(h => s"x${h.take(w)}" == one))
    // (b) bloom-clean keys: the probe returns an EMPTY LOCAL relation —
    // zero index files touched (the 100 TB fast path for clean batches)
    val clean = docs(99L -> "text the index has never seen anywhere")
      .select(md5(col("text").cast("binary")).as("h"))
    val probed = IngestIndex.probeRows(spark, pr, clean, "h")
    assert(probed.isEmpty)
    assert(!probed.queryExecution.executedPlan.toString.contains("FileScan"),
      "clean-batch probe must not scan the index")
    // (c) a real suspect still finds its row (bloom has no false negatives)
    val suspect = docs(100L -> "seed text shared by the very first batch here")
      .select(md5(col("text").cast("binary")).as("h"))
    assert(IngestIndex.probeRows(spark, pr, suspect, "h").count() === 1L)
  }

  test("adaptive hp width: a small run self-describes _w1 (16 " +
    "partitions, killing the fixed-256 compaction floor), a wide run " +
    "_w2, and one probe prunes BOTH by truncating suspect prefixes to " +
    "each run's own width") {
    assert(IngestIndex.widthFor(10L) === 1)
    assert(IngestIndex.widthFor(IngestIndex.HpWidthThreshold - 1) === 1)
    assert(IngestIndex.widthFor(IngestIndex.HpWidthThreshold) === 2)
    assert(IngestIndex.widthOf("run_3_0_w1") === 1)
    assert(IngestIndex.widthOf("run_3_0_w2") === 2)
    assert(IngestIndex.widthOf("run_3_0") === 2) // legacy: always wide
    val t = java.nio.file.Files.createTempDirectory("graft_ii15").toString
    val idx = s"$t/idx"
    // small run via the normal path -> width 1, 1-hex-char partitions
    mkBatches(2).foreach { case (id, b) =>
      StreamOps.ingestBatch(b, id, idx, s"$t/out") }
    IngestIndex.compact(spark, idx, 1L)
    val m = IngestIndex.readManifest(spark, idx)
    val narrow = m.runs("hashes").head.name
    assert(narrow.endsWith("_w1"), s"small run must be narrow: $narrow")
    val narrowHps = spark.read
      .option("basePath", s"$idx/hashes/$narrow")
      .parquet(s"$idx/hashes/$narrow")
      .select("hp").distinct().collect().map(_.getString(0))
    assert(narrowHps.forall(_.length === 2)) // "x" + 1 hex char
    // wide run injected at forced width 2 (the >= threshold geometry,
    // without needing a million-key corpus)
    val wideKeys = docs((100L to 120L).map(i =>
      i -> s"wide-run doc $i with its own text ${i * 7}"): _*)
      .select(md5(col("text").cast("binary")).as("h"))
    val wide = IngestIndex.writeRun(spark, idx, "hashes", "h",
      "run_9_0", wideKeys, forceWidth = Some(2))
    assert(wide.name === "run_9_0_w2")
    // one probe over both runs: suspect prefixes collected at max
    // width match the wide run directly and the narrow run truncated
    val kNarrow = spark.read.option("basePath", s"$idx/hashes/$narrow")
      .parquet(s"$idx/hashes/$narrow").select("h").head().getString(0)
    val kWide = wideKeys.head().getString(0)
    val pr = IngestIndex.Prior(
      Seq(s"$idx/hashes/$narrow", s"$idx/hashes/${wide.name}"),
      Nil, None)
    val hps = Seq(s"x${kNarrow.take(2)}", s"x${kWide.take(2)}")
    val read = IngestIndex.readPruned(spark, pr, "h", Some(hps))
    val got = read.collect().map(_.getString(0)).toSet
    assert(got.contains(kNarrow) && got.contains(kWide),
      "both widths must surface their suspect rows under one probe")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains(s"x${kNarrow.take(1)}"),
      s"narrow run must filter on the TRUNCATED prefix:\n$plan")
    assert(plan.contains(s"x${kWide.take(2)}"),
      s"wide run must filter on the full prefix:\n$plan")
  }

  test("retraction is SOURCE-scoped: the first re-arrival of retracted " +
    "content is re-admitted AND re-indexed — later arrivals are flagged " +
    "as its duplicates (an unscoped exclusion admitted every arrival " +
    "until the sweep), compaction keeps the re-ingested key while " +
    "dropping the pre-retraction copies, and the tombstone still " +
    "sweeps on schedule") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii10").toString
    val idx = s"$t/idx"; val out = s"$t/out"
    val seed = "retract me this exact document text please now"
    def d(outDir: String) = spark.read.parquet(outDir)
      .select("doc_id", "dup_exact", "dup_near", "kept").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3))).toSet
    StreamOps.ingestBatch(docs(1L -> seed,
      2L -> "other content entirely unrelated to the seed"), 0L, idx, out)
    StreamOps.ingestBatch(docs(3L -> seed), 1L, idx, out)
    assert(d(out).contains((3L, true, true, false))) // flagged pre-retract
    StreamOps.retractDocs(docs(99L -> seed), idx, "takedown")
    // the first re-arrival is re-admitted (the takedown semantic) and
    // its keys re-enter the index as PRIOR STATE: the retraction's
    // source bound scopes the exclusion to pre-retraction sources, so
    // the NEXT arrival is flagged as a duplicate of the re-admitted
    // copy — the corpus never accumulates duplicate kept docs
    StreamOps.ingestBatch(docs(4L -> seed), 2L, idx, out)
    StreamOps.ingestBatch(docs(5L -> seed), 3L, idx, out)
    assert(d(out).contains((4L, false, false, true)))
    assert(d(out).contains((5L, true, true, false)),
      "the second post-retraction arrival must screen against the first")
    // the unrelated doc's keys are untouched by the retraction
    StreamOps.ingestBatch(docs(
      6L -> "other content entirely unrelated to the seed"), 4L, idx, out)
    assert(d(out).contains((6L, true, true, false)))
    // compaction applies the tombstone source-scoped: the folded run
    // physically KEEPS the re-ingested seed key (it is live prior
    // state) — only the pre-retraction copies are dropped, which the
    // value-identical key cannot distinguish, so the assertion is
    // exactly-once presence
    IngestIndex.compact(spark, idx, 4L)
    val m = IngestIndex.readManifest(spark, idx)
    assert(m.runs("tombs_hashes").map(_.name) === Seq("t_takedown"))
    val seedHash = docs(0L -> seed)
      .select(md5(col("text").cast("binary"))).head().getString(0)
    val rawRun = spark.read
      .option("basePath", s"$idx/hashes/${m.runs("hashes").head.name}")
      .parquet(s"$idx/hashes/${m.runs("hashes").head.name}")
    assert(rawRun.filter(col("h") === seedHash).count() === 1L,
      "the re-ingested key must survive compaction exactly once")
    // next compaction LOGICALLY sweeps (manifest entry -> tswept, the
    // files stay one reader-grace generation), the one after deletes
    StreamOps.ingestBatch(docs(
      7L -> "filler document to advance the batch counter"), 5L, idx, out)
    IngestIndex.compact(spark, idx, 5L)
    val m5 = IngestIndex.readManifest(spark, idx)
    assert(m5.runs.get("tombs_hashes").isEmpty)
    assert(m5.runs("tswept_hashes").map(_.name) === Seq("t_takedown"))
    assert(IngestIndex.tombDirs(spark, idx, "hashes").nonEmpty)
    // re-issuing an APPLIED tag is refused (extending it could sweep
    // before the new keys are physically removed)
    val ex = intercept[IllegalArgumentException] {
      StreamOps.retractDocs(docs(98L -> "whatever"), idx, "takedown")
    }
    assert(ex.getMessage.contains("already applied"))
    IngestIndex.compact(spark, idx, 6L)
    assert(IngestIndex.tombDirs(spark, idx, "hashes").isEmpty)
    assert(IngestIndex.readManifest(spark, idx).runs
      .get("tswept_hashes").isEmpty)
    // post-sweep: the re-admitted copy (doc 4) is still IN the corpus,
    // so further arrivals keep screening against it — the sweep removes
    // the tombstone's bookkeeping, never the legitimate index entry
    StreamOps.ingestBatch(docs(8L -> seed), 7L, idx, out)
    StreamOps.ingestBatch(docs(9L -> seed), 8L, idx, out)
    assert(d(out).contains((8L, true, true, false)))
    assert(d(out).contains((9L, true, true, false)))
  }

  test("write lease: a second writer fails loudly while the lease is " +
    "held and the index is untouched; a stale lease (crashed writer) " +
    "is taken over; nesting under one lease is a writer transaction") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii14").toString
    val idx = s"$t/idx"; val out = s"$t/out"
    StreamOps.ingestBatch(docs(1L -> "lease spec document number one"),
      0L, idx, out)
    val mBefore = IngestIndex.readManifest(spark, idx)
    // an EXTERNAL writer's lease (another process would create exactly
    // this file): every writer op must refuse to interleave
    val lease = java.nio.file.Paths.get(idx, "_writer.lease")
    java.nio.file.Files.writeString(lease, """{"owner": "pid99999@elsewhere"}""")
    val exC = intercept[IllegalStateException] {
      IngestIndex.compact(spark, idx, 0L)
    }
    assert(exC.getMessage.contains("another writer"))
    val exI = intercept[IllegalStateException] {
      StreamOps.ingestBatch(docs(2L -> "blocked arrival"), 1L, idx, out)
    }
    assert(exI.getMessage.contains("another writer"))
    val exR = intercept[IllegalStateException] {
      StreamOps.retractDocs(docs(9L -> "anything"), idx, "blocked")
    }
    assert(exR.getMessage.contains("another writer"))
    // the loser left no trace: manifest identical, no tombstones, no
    // new deltas
    assert(IngestIndex.readManifest(spark, idx) === mBefore)
    assert(IngestIndex.tombDirs(spark, idx, "hashes").isEmpty)
    assert(IngestIndex.deltaDirs(spark, idx, "hashes", -1L, Long.MaxValue)
      .map(_._1) === Seq(0L))
    // stale lease (crashed writer): aged past LeaseStaleMs -> taken
    // over, the op proceeds, and the lease is released afterward
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.setTimes(new org.apache.hadoop.fs.Path(lease.toString),
      System.currentTimeMillis() - IngestIndex.LeaseStaleMs - 1000, -1)
    IngestIndex.compact(spark, idx, 0L)
    assert(IngestIndex.readManifest(spark, idx).maxCompacted === 0L)
    assert(!java.nio.file.Files.exists(lease), "lease released after op")
    // nesting: several ops under ONE withWriterLease form a single
    // writer transaction (same-JVM re-entry, no self-deadlock), and
    // the lease is released only when the outermost frame exits
    IngestIndex.withWriterLease(spark, idx) {
      StreamOps.ingestBatch(docs(3L -> "transactional arrival"), 1L,
        idx, out)
      IngestIndex.compact(spark, idx, 1L)
      assert(java.nio.file.Files.exists(lease), "held inside the txn")
      // a DIFFERENT thread of the SAME process is a different writer:
      // it must fail exactly like a second process, not silently ride
      // this thread's re-entry
      @volatile var caught: Option[Throwable] = None
      val th = new Thread(() => {
        try { IngestIndex.compact(spark, idx, 5L); () }
        catch { case e: Throwable => caught = Some(e) }
      })
      th.start(); th.join()
      assert(caught.exists(_.getMessage.contains("another writer")),
        s"cross-thread writer must be refused, got $caught")
    }
    assert(!java.nio.file.Files.exists(lease))
    assert(IngestIndex.readManifest(spark, idx).maxCompacted === 1L)
  }

  test("lease stress: eight threads contending on one index never " +
    "overlap — at most one holder at any instant, losers fail loudly") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii16").toString
    val idx = s"$t/idx"
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    val held = new java.util.concurrent.atomic.AtomicInteger(0)
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map(_ => new Thread(() => {
      (1 to 6).foreach { _ =>
        try IngestIndex.withWriterLease(spark, idx) {
          val a = active.incrementAndGet()
          maxActive.updateAndGet(m => math.max(m, a))
          Thread.sleep(3)
          active.decrementAndGet()
          held.incrementAndGet()
          ()
        } catch {
          case _: IllegalStateException => refused.incrementAndGet(); ()
        }
        Thread.sleep(1)
      }
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(maxActive.get() === 1,
      s"two writers held the lease simultaneously (max=${maxActive.get()})")
    assert(held.get() + refused.get() === 48)
    assert(held.get() > 0, "someone must acquire")
    assert(refused.get() > 0, "contention must surface as loud failures")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx, "_writer.lease")),
      "lease released after the dust settles")
  }

  test("lease heartbeat: a live slow writer's lease never goes stale — " +
    "the holder's daemon beat refreshes the mtime even after the file " +
    "is artificially aged past LeaseStaleMs, so a takeover check would " +
    "read it as fresh; release still cleans up") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii17").toString
    val idx = s"$t/idx"
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$idx/_writer.lease")
    val beat0 = IngestIndex.LeaseBeatMs
    IngestIndex.LeaseBeatMs = 50L
    try {
      IngestIndex.withWriterLease(spark, idx) {
        // simulate a >10-min op: age the lease as if the wall clock
        // advanced past LeaseStaleMs mid-operation
        fs.setTimes(lease,
          System.currentTimeMillis() - IngestIndex.LeaseStaleMs - 60000, -1)
        val deadline = System.currentTimeMillis() + 5000
        var fresh = false
        while (!fresh && System.currentTimeMillis() < deadline) {
          Thread.sleep(25)
          fresh = System.currentTimeMillis() -
            fs.getFileStatus(lease).getModificationTime <
            IngestIndex.LeaseStaleMs
        }
        // this is exactly the staleness predicate a second process's
        // takeover path evaluates — fresh means it refuses to usurp
        assert(fresh, "heartbeat must refresh the aged lease mtime")
      }
    } finally IngestIndex.LeaseBeatMs = beat0
    assert(!fs.exists(lease), "released after the slow op")
  }

  test("ownership-checked release: a holder whose lease was usurped " +
    "mid-operation reports it loudly and does NOT delete the usurper's " +
    "lease (deleting it would admit a third concurrent writer)") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii18").toString
    val idx = s"$t/idx"
    val lease = java.nio.file.Paths.get(idx, "_writer.lease")
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val ex = intercept[IllegalStateException] {
      IngestIndex.withWriterLease(spark, idx) {
        // forge a takeover while we are mid-op: another writer's
        // token-stamped lease replaces ours (a manual lease delete
        // followed by a second process's acquisition) — written
        // through the Hadoop FS, as a real usurper would (keeps the
        // checksummed LocalFileSystem's CRC sidecar consistent)
        val out = fs.create(
          new org.apache.hadoop.fs.Path(s"$idx/_writer.lease"), true)
        try out.write(
          """{"owner": "pid424242@usurper", "token": "not-ours"}"""
            .getBytes("UTF-8"))
        finally out.close()
      }
    }
    assert(ex.getMessage.contains("taken over"),
      s"usurpation must surface loudly, got: ${ex.getMessage}")
    assert(java.nio.file.Files.exists(lease),
      "the usurper's live lease must survive our release")
    assert(new String(java.nio.file.Files.readAllBytes(lease), "UTF-8")
      .contains("not-ours"))
    java.nio.file.Files.delete(lease)
  }

  test("manifest-commit fence: a writer whose lease was usurped " +
    "mid-operation fails its COMMIT — the new holder's manifest is " +
    "never clobbered by a state that predates its writes") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii19").toString
    val idx = s"$t/idx"; val out = s"$t/out"
    StreamOps.ingestBatch(docs(1L -> "fence drill document number one"),
      0L, idx, out)
    val mBefore = IngestIndex.readManifest(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    var fenceMsg: Option[String] = None
    // the release's ownership check ALSO throws on exit (and replaces
    // the body's exception), so capture the fence message inside
    intercept[IllegalStateException] {
      IngestIndex.withWriterLease(spark, idx) {
        val o = fs.create(
          new org.apache.hadoop.fs.Path(s"$idx/_writer.lease"), true)
        try o.write(
          """{"owner": "pid7@usurper", "token": "theirs"}"""
            .getBytes("UTF-8"))
        finally o.close()
        try IngestIndex.writeManifest(spark, idx,
          mBefore.copy(maxCompacted = 99L))
        catch { case e: IllegalStateException =>
          fenceMsg = Some(e.getMessage); throw e
        }
      }
    }
    assert(fenceMsg.exists(_.contains("refusing to commit")),
      s"the COMMIT itself must be fenced, got $fenceMsg")
    assert(IngestIndex.readManifest(spark, idx) === mBefore,
      "the manifest on disk must be untouched")
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "_writer.lease"))
    // sanity: an un-usurped holder commits normally through the fence
    IngestIndex.withWriterLease(spark, idx) {
      IngestIndex.compact(spark, idx, 0L)
    }
    assert(IngestIndex.readManifest(spark, idx).maxCompacted === 0L)
  }

  test("S3A lease enforcement: acquiring the writer lease on a " +
    "non-atomic store scheme (s3a/s3n) fails loudly at acquisition; " +
    "the explicit allowNonAtomicStore waiver (per-call param from the " +
    "session conf, or the Hadoop conf key for external writers) " +
    "re-admits it") {
    val idx = java.nio.file.Files.createTempDirectory("graft_s3a").toString
    // the LeaseProbe seam takes an explicit FileSystem, so a local FS
    // masquerading as s3a drills the probe without a real object store
    class FakeScheme(scheme: String)
        extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = scheme
    }
    def mk(scheme: String, allowViaConf: Boolean) = {
      val fs = new FakeScheme(scheme)
      val conf = new org.apache.hadoop.conf.Configuration()
      if (allowViaConf)
        conf.setBoolean("graft.lease.allowNonAtomicStore", true)
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    }
    val e = intercept[IllegalStateException] {
      IngestIndex.withWriterLeaseFs(mk("s3a", allowViaConf = false), idx) {
        fail("body must not run on a refused store")
      }
    }
    assert(e.getMessage.contains("allowNonAtomicStore"),
      s"refusal must name the waiver conf, got: ${e.getMessage}")
    intercept[IllegalStateException] {
      IngestIndex.withWriterLeaseFs(mk("s3n", allowViaConf = false), idx)(())
    }
    // per-call waiver — the channel withWriterLease feeds from
    // spark.sql.graft.lease.allowNonAtomicStore
    var ran = false
    IngestIndex.withWriterLeaseFs(mk("s3a", allowViaConf = false), idx,
      allowNonAtomic = true) { ran = true }
    assert(ran, "waived acquisition must run the body")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx, "_writer.lease")),
      "waived acquisition still releases")
    // Hadoop-conf waiver — the external-writer (no SparkSession) channel
    var ran2 = false
    IngestIndex.withWriterLeaseFs(mk("s3a", allowViaConf = true), idx) {
      ran2 = true
    }
    assert(ran2)
    // a normal local-FS acquisition is untouched by the probe
    IngestIndex.withWriterLease(spark, idx)(())
  }

  test("corruption fails fast: a manifest-referenced run dir missing " +
    "on disk throws instead of silently probing without it, and a " +
    "legacy single-base manifest is refused outright") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii8").toString
    val idx = s"$t/idx"
    mkBatches(2).foreach { case (id, b) =>
      StreamOps.ingestBatch(b, id, idx, s"$t/out") }
    IngestIndex.compact(spark, idx, 1L)
    val m = IngestIndex.readManifest(spark, idx)
    val runDir = s"$idx/hashes/${m.runs("hashes").head.name}"
    def rm(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).iterator().asScala.toSeq.foreach(rm)
      java.nio.file.Files.deleteIfExists(p); ()
    }
    rm(java.nio.file.Paths.get(runDir))
    val ex = intercept[IllegalStateException] {
      IngestIndex.prior(spark, idx, "hashes", 5L)
    }
    assert(ex.getMessage.contains("corrupted"))
    // legacy pre-tiered manifest: refuse, don't probe-as-empty
    val t2 = java.nio.file.Files.createTempDirectory("graft_ii9").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t2, "x"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t2, "x", "manifest.json"),
      """{"maxCompacted": 3, "base": "base_v3"}""")
    val ex2 = intercept[IllegalStateException] {
      IngestIndex.readManifest(spark, s"$t2/x")
    }
    assert(ex2.getMessage.contains("legacy"))
  }

  test("restart without a checkpoint over a non-empty index is refused") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t = java.nio.file.Files.createTempDirectory("graft_ii4").toString
    // leave prior-run state behind
    StreamOps.ingestBatch(docs(1L -> "stale state from a previous run"),
      0L, s"$t/idx", s"$t/out")
    val ms = MemoryStream[(Long, String)]
    val ex = intercept[IllegalStateException] {
      StreamOps.dedupIngestStream(ms.toDF().toDF("doc_id", "text"),
        s"$t/idx", s"$t/out")
    }
    assert(ex.getMessage.contains("previous run"))
    // with a checkpoint the same call is allowed (resume semantics)
    val q = StreamOps.dedupIngestStream(ms.toDF().toDF("doc_id", "text"),
      s"$t/idx", s"$t/out", checkpoint = Some(s"$t/ckpt"))
    q.stop()
  }

  test("checkpointed stop/restart drill: committed batches are not " +
    "re-screened, the index holds each batch once, and cross-restart " +
    "duplicates are still flagged") {
    val s = spark
    val t = java.nio.file.Files.createTempDirectory("graft_ii5").toString
    val feed = s"$t/feed"
    val schema = docs(0L -> "x").schema
    def feedFile(rows: (Long, String)*): Unit =
      docs(rows: _*).coalesce(1).write.mode("append").parquet(feed)
    def stream() = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    feedFile(1L -> "first run document one of the crawl feed",
      2L -> "first run document two with different words")
    val q1 = StreamOps.dedupIngestStream(stream(), s"$t/idx", s"$t/out",
      checkpoint = Some(s"$t/ckpt"))
    q1.processAllAvailable(); q1.stop()
    val afterRun1 = decisions(s"$t/out")
    assert(afterRun1.size === 2 && afterRun1.forall(_._4)) // all kept
    // second run: same checkpoint+index, new files (one cross-restart dup)
    feedFile(3L -> "first run document one of the crawl feed", // dup of 1
      4L -> "second run brings an entirely new document")
    val q2 = StreamOps.dedupIngestStream(stream(), s"$t/idx", s"$t/out",
      checkpoint = Some(s"$t/ckpt"))
    q2.processAllAvailable(); q2.stop()
    val afterRun2 = decisions(s"$t/out")
    // no re-screening: docs 1,2 appear exactly once; 4 rows total
    assert(afterRun2.size === 4)
    assert(afterRun2.count(d => d._1 == 1L) === 1)
    // the cross-restart duplicate was caught against the resumed index
    assert(afterRun2.contains((3L, true, true, false)))
    assert(afterRun2.contains((4L, false, false, true)))
    // index holds each committed batch id exactly once
    val hashDeltas = IngestIndex.deltaDirs(spark, s"$t/idx", "hashes",
      -1L, Long.MaxValue).map(_._1)
    assert(hashDeltas === hashDeltas.distinct)
  }

  test("CROSS-PROCESS MVCC drill: a reader JVM that PLANNED against " +
    "manifest K (pinning its file listing) still executes correctly " +
    "after this process compacts and sweeps to K+1 — the one-" +
    "generation retention claim across real process boundaries, for " +
    "both the gate index and the ANN index") {
    val t = java.nio.file.Files.createTempDirectory("graft_mvcc").toString
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    // a full Spark session in the child JVM needs the same module
    // opens the build gives this one
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic",
      "sun.nio.ch", "sun.nio.cs", "sun.security.action",
      "sun.util.calendar")
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
    def reader(kind: String, idx: String, flags: String): Process =
      new ProcessBuilder(
        (Seq(javaBin, "-Xmx1g") ++ opens ++ Seq("-cp", cp,
          "-Dspark.ui.enabled=false",
          "graft.tools.ReaderProbe", kind, idx, flags)): _*).start()
    def await(p: java.nio.file.Path, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 90000
      while (!java.nio.file.Files.exists(p) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(java.nio.file.Files.exists(p), s"$what never appeared")
    }
    def rowsOf(p: Process): Long = {
      assert(p.waitFor(90, java.util.concurrent.TimeUnit.SECONDS),
        "reader probe hung")
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      if (p.exitValue() != 0) {
        val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
        fail(s"reader died (exit ${p.exitValue()}):\n$out\n" +
          err.linesIterator.toSeq.takeRight(30).mkString("\n"))
      }
      out.linesIterator.collectFirst {
        case l if l.startsWith("ROWS=") => l.drop(5).toLong
      }.getOrElse(fail(s"no ROWS in: $out"))
    }

    // ---- gate index: manifest K = compact(1) with deltas 2-3 live
    val gIdx = s"$t/gidx"
    mkBatches(4).foreach { case (id, b) =>
      StreamOps.ingestBatch(b, id, gIdx, s"$t/gout") }
    IngestIndex.compact(spark, gIdx, 1L)
    val gFlags = s"$t/gflags"
    val gr = reader("gate", gIdx, gFlags)
    await(java.nio.file.Paths.get(gFlags, "planned"), "gate plan marker")
    // expected rows as of K, computed BEFORE the next generation
    val expected = IngestIndex.readAll(spark, gIdx, "hashes", "h").count()
    // the writer moves on: K+1 folds deltas 2-3 and supersedes runs;
    // its cleanup deletes PRE-K leftovers, keeping K's dirs one more
    // generation for exactly this in-flight reader
    IngestIndex.compact(spark, gIdx, 3L)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(gFlags, "swept"), "ok")
    assert(rowsOf(gr) === expected,
      "the stale-plan reader must see manifest K's exact content")

    // ---- ANN index: same protocol through AnnIngest.readIndex
    val s2 = spark
    import s2.implicits._
    def vecs(from: Int, n: Int) = (from until from + n)
      .map(i => (i.toLong, Seq.tabulate(8)(j => (i * 17 + j) * 0.01)))
      .toDF("vec_id", "embedding")
    val aIdx = s"$t/aidx"
    AnnIngest.ingestBatch(vecs(0, 40), 0L, aIdx, nCells = 4)
    AnnIngest.ingestBatch(vecs(40, 40), 1L, aIdx, nCells = 4)
    AnnIngest.compact(spark, aIdx, 1L)
    val aFlags = s"$t/aflags"
    val ar = reader("ann", aIdx, aFlags)
    await(java.nio.file.Paths.get(aFlags, "planned"), "ann plan marker")
    AnnIngest.ingestBatch(vecs(80, 40), 2L, aIdx, nCells = 4)
    AnnIngest.compact(spark, aIdx, 2L)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(aFlags, "swept"), "ok")
    assert(rowsOf(ar) === 80L,
      "the stale ANN reader must see exactly manifest K's 80 live rows")
  }

  test("CROSS-PROCESS lease drill: a second JVM (tools.LeaseProbe) is " +
    "refused while this process would be, its heartbeat is visible " +
    "across process boundaries, and its release frees the index — the " +
    "threaded drills never leave the heldLeases monitor; this one " +
    "exercises the file protocol between real processes") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii20").toString
    val idx = s"$t/idx"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$idx/_writer.lease")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    def spawn(args: String*): Process =
      new ProcessBuilder(
        (Seq(javaBin, "-Xmx256m", "-cp", cp,
          "graft.tools.LeaseProbe", idx) ++ args): _*).start()
    def drain(p: Process): String = {
      val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      s"stdout: $out\nstderr: $err"
    }
    // (1) the probe JVM acquires and holds (8 s, 100 ms heartbeat)
    val holder = spawn("hold", "8000", "100")
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(holder.getInputStream, "UTF-8"))
    val first = rd.readLine() // blocks until the probe prints HELD
    if (first != "HELD") { // read stderr only AFTER exit: it blocks on a live process
      holder.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      holder.destroyForcibly()
      fail(s"probe failed to acquire: got '$first'\n${drain(holder)}")
    }
    try {
      // (2) THIS process's writer is refused loudly, index untouched
      val ex = intercept[IllegalStateException] {
        IngestIndex.withWriterLease(spark, idx) { fail("must not enter") }
      }
      assert(ex.getMessage.contains("another writer holds"),
        s"got: ${ex.getMessage}")
      // (3) the probe's heartbeat is visible ACROSS processes: age the
      // lease file from here; the holder JVM must refresh it, so the
      // takeover staleness predicate keeps reading it as fresh
      fs.setTimes(lease,
        System.currentTimeMillis() - IngestIndex.LeaseStaleMs - 60000, -1)
      val deadline = System.currentTimeMillis() + 6000
      var fresh = false
      while (!fresh && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        fresh = System.currentTimeMillis() -
          fs.getFileStatus(lease).getModificationTime <
          IngestIndex.LeaseStaleMs
      }
      assert(fresh,
        "the holder JVM's heartbeat must refresh the aged lease mtime")
      // (4) a THIRD process's try-acquire also fails (exit 3) while
      // the holder lives
      val contender = spawn("try")
      assert(contender.waitFor(30, java.util.concurrent.TimeUnit.SECONDS),
        "contender probe hung")
      assert(contender.exitValue() === 3,
        s"contender must be refused; ${drain(contender)}")
    } finally {
      if (!holder.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
        holder.destroyForcibly()
        holder.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    assert(holder.exitValue() === 0,
      s"holder probe failed: ${
        new String(holder.getErrorStream.readAllBytes(), "UTF-8")}")
    assert(rd.readLine() === "RELEASED")
    // (5) the release freed the index: this process acquires normally
    assert(!fs.exists(lease), "lease must be gone after the probe exits")
    IngestIndex.withWriterLease(spark, idx) {
      assert(fs.exists(lease))
    }
    assert(!fs.exists(lease))
  }

  test("streaming INNER plans pass the mechanical plan lint: the gate's " +
    "routed probe, the index reader, and the ANN query path carry no " +
    "cartesian/BNLJ/unpushed-scan anti-pattern (PLAN_LINT.md covers the " +
    "registered batch queries; this covers the foreachBatch internals " +
    "those queries hide behind driver-side collects)") {
    import org.apache.spark.sql.functions.{expr, md5}
    def lint(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val findings = graft.tools.PlanLint.lintPlan(tag,
        df.queryExecution.sparkPlan)
      assert(findings.isEmpty, s"$tag flagged: $findings")
    }
    // gate: two batches + a compaction, then lint the probe's plan
    val t = java.nio.file.Files.createTempDirectory("graft_ii_pl").toString
    val idx = s"$t/idx"
    mkBatches(2).foreach { case (id, b) =>
      StreamOps.ingestBatch(b, id, idx, s"$t/out")
    }
    IngestIndex.compact(spark, idx, 1L)
    val keys = docs(900L -> "probe text one", 901L -> "probe text two")
      .select(md5(col("text").cast("binary")).as("h")).distinct()
    lint("gate_probe", IngestIndex.probeRows(spark,
      IngestIndex.prior(spark, idx, "hashes", 2L), keys, "h"))
    // ANN index: two batches + a compaction, then lint reader + query
    val aidx = s"$t/ann"
    val emb = { val s0 = spark; import s0.implicits._
      (0L until 60L).map(i => (i, Array.tabulate(8)(d =>
        math.sin(i * 31 + d * 7)))).toDF("vec_id", "embedding") }
    AnnIngest.ingestBatch(emb.filter(col("vec_id") < 30), 0L, aidx, 4)
    AnnIngest.ingestBatch(emb.filter(col("vec_id") >= 30), 1L, aidx, 4)
    AnnIngest.compact(spark, aidx, 1L)
    lint("ann_read", AnnIngest.readIndex(spark, aidx, None))
    // the query's result is a local frame; lint the scan it executes,
    // with a live takedown applied to it
    AnnIngest.delete(spark, aidx,
      emb.filter(expr("vec_id % 7 = 0")).select("vec_id"), "lint")
    val scan = AnnIngest.queryScan(IngestIndex.readManifest(spark, aidx),
      spark, aidx, Seq(0, 1))
    assert(scan.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.exists(_.partitionFilters.nonEmpty), "the query scan is cell-pruned")
    // the takedown is held on the driver, so the lint's short-circuit
    // check (tomb_eager_src) has a membership test to check against
    assert(scan.queryExecution.sparkPlan.toString
      .contains(AnnIngest.TombFreeUdf), "the held set's membership test")
    lint("ann_query", scan)
  }

  test("the tombstone-set cache never caches under a key built from an " +
    "unreadable dir: every call derives afresh, while a readable set " +
    "derives once") {
    val root = java.nio.file.Files.createTempDirectory("graft_tk").toString
    val gone = s"$root/t_gone"
    var n = 0
    def derive(): String = { n += 1; s"v$n" }
    assert(IngestIndex.tombKey(spark, Seq(gone), "") === None)
    IngestIndex.tombCached(spark, Seq(gone), "spec", "")(derive())
    IngestIndex.tombCached(spark, Seq(gone), "spec", "")(derive())
    assert(n === 2)
    var probes = 0
    def tombs() = { probes += 1; spark.range(3).toDF("vec_id") }
    assert(IngestIndex.tombsSmall(spark, Seq(gone), tombs()))
    assert(IngestIndex.tombsSmall(spark, Seq(gone), tombs()))
    assert(probes === 2)
    val live = s"$root/t_live"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(live))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$live/part"),
      Array[Byte](1, 2, 3))
    assert(IngestIndex.tombKey(spark, Seq(live), "").isDefined)
    val a = IngestIndex.tombCached(spark, Seq(live), "spec", "")(derive())
    val b = IngestIndex.tombCached(spark, Seq(live), "spec", "")(derive())
    assert(n === 3 && a === b)
    // a dir of the set vanishing makes the key unbuildable again
    assert(IngestIndex.tombKey(spark, Seq(live, gone), "") === None)
  }

  test("readTombs reads every live dir in one pinned-schema read: the " +
    "key is selected BY NAME even behind a decoy column, and a dir " +
    "written before tb_bound existed reads as unscoped (MaxValue)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tombs").toString
    // (h, tb_bound) behind a decoy column ordered FIRST
    Seq(("x1", "k7", 3L), ("x2", "k9", 3L)).toDF("decoy", "h", "tb_bound")
      .write.parquet(s"$root/t_named")
    // no tb_bound: the shape before retractions were source-scoped
    Seq("k4", "k5").toDF("h").write.parquet(s"$root/t_unbound")
    def read(dirs: String*) = IngestIndex.readTombs(spark,
      dirs.map(d => s"$root/$d"), "h")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(read("t_named") === Seq(("k7", 3L), ("k9", 3L)))
    assert(read("t_unbound") === Seq(("k4", Long.MaxValue),
      ("k5", Long.MaxValue)))
    assert(read("t_named", "t_unbound") === Seq(("k4", Long.MaxValue),
      ("k5", Long.MaxValue), ("k7", 3L), ("k9", 3L)))
  }

  test("retracting a null-text doc writes no NULL tombstone key and " +
    "leaves the next batch's decisions as without it") {
    val seed = "retracted seed document for the null text case"
    def run(retract: (Long, String)*) = {
      val t = java.nio.file.Files.createTempDirectory("graft_ii_nt").toString
      val idx = s"$t/idx"; val out = s"$t/out"
      StreamOps.ingestBatch(docs(1L -> seed,
        2L -> "a filler document that is never retracted"), 0L, idx, out)
      StreamOps.retractDocs(docs(retract: _*), idx, "nt")
      StreamOps.ingestBatch(docs(3L -> seed,
        4L -> "a filler document that is never retracted"), 1L, idx, out)
      (idx, decisions(out))
    }
    val (idx, withNull) = run(9L -> seed, 10L -> (null: String))
    for ((kind, key) <- Seq("hashes" -> "h", "bands" -> "bk")) {
      val t = spark.read.parquet(s"$idx/tombs_$kind/t_nt")
      assert(t.count() > 0 && t.filter(col(key).isNull).isEmpty,
        s"$kind tombstone holds a NULL key")
    }
    val (_, without) = run(9L -> seed)
    assert(withNull === without)
    assert(withNull.contains((3L, false, false, true)) &&
      withNull.contains((4L, true, true, false)))
  }

  test("a steady batch and a compaction read every index dir under its " +
    "pinned schema: over two runs per kind, live deltas and a live " +
    "retraction, no job is a schema-inference read") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii_pin").toString
    val idx = s"$t/idx"; val out = s"$t/out"
    val seed = "pinned schema seed document shared across batches"
    // two compactions of different size classes leave two runs per kind
    StreamOps.ingestBatch(docs((1L -> seed) +: (2L to 8L).map(i =>
      i -> s"first fold unique document number $i of the pinned spec"): _*),
      0L, idx, out)
    IngestIndex.compact(spark, idx, 0L)
    StreamOps.ingestBatch(docs(
      11L -> "second fold lone document of the pinned spec"), 1L, idx, out)
    IngestIndex.compact(spark, idx, 1L)
    val m = IngestIndex.readManifest(spark, idx)
    IngestIndex.Kinds.foreach(k =>
      assert(m.runs(k).size >= 2, s"$k runs: ${m.runs(k)}"))
    StreamOps.ingestBatch(docs(
      21L -> "a live delta document of the pinned spec"), 2L, idx, out)
    StreamOps.retractDocs(docs(99L -> ("first fold unique document " +
      "number 2 of the pinned spec")), idx, "pin")
    // the retraction's first probe sizes its tombstone set (cached per
    // set), so the batch below is the steady shape
    StreamOps.ingestBatch(docs(
      31L -> "a warm-up document of the pinned spec"), 3L, idx, out)
    val (_, jobs) = org.apache.spark.TestBus.jobsOf(spark.sparkContext) {
      StreamOps.ingestBatch(docs(41L -> seed,
        42L -> "a fresh document of the pinned spec"), 4L, idx, out)
      IngestIndex.compact(spark, idx, 4L)
    }
    val stages = jobs.flatten.map(_.name)
    assert(stages.nonEmpty)
    val inference = stages.filter(_.startsWith("parquet at IngestIndex.scala"))
    assert(inference.isEmpty, s"schema-inference jobs: $inference")
    assert(decisions(out).contains((41L, true, true, false)) &&
      decisions(out).contains((42L, false, false, true)))
  }

  /** Read and (over)write `<idx>/manifest.json` as text — writes go
    * through the Hadoop FS so its checksum stays valid. */
  private def manifestText(idx: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"$idx/manifest.json"))
  private def writeManifestText(idx: String, txt: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$idx/manifest.json")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  test("a hand-written manifest in today's key layout compacts: the " +
    "tombs_<kind> records keep their first-applied id into " +
    "tswept_<kind>, and a tswept record holding the sweep id (as earlier " +
    "versions wrote it) is still deleted on schedule") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii_mf").toString
    val idx = s"$t/idx"; val out = s"$t/out"
    val seed = "hand written manifest document to be retracted"
    StreamOps.ingestBatch(docs(1L -> seed,
      2L -> "hand manifest filler number one"), 0L, idx, out)
    StreamOps.retractDocs(docs(9L -> seed), idx, "old")
    StreamOps.ingestBatch(docs(3L -> "hand manifest filler number two"),
      1L, idx, out)
    IngestIndex.compact(spark, idx, 1L)
    val bandRows = IngestIndex.footerRows(spark,
      Seq(s"$idx/bands/run_1_0_w1"))
    val applied = "{\"maxCompacted\": 1, \"runs\": {" +
      s"\"bands\": [{\"name\": \"run_1_0_w1\", \"rows\": $bandRows}], " +
      "\"hashes\": [{\"name\": \"run_1_0_w1\", \"rows\": 2}], " +
      "\"tombs_bands\": [{\"name\": \"t_old\", \"rows\": 1}], " +
      "\"tombs_hashes\": [{\"name\": \"t_old\", \"rows\": 1}]}}"
    assert(manifestText(idx) === applied)
    writeManifestText(idx, applied)
    StreamOps.ingestBatch(docs(4L -> "hand manifest filler number three"),
      2L, idx, out)
    IngestIndex.compact(spark, idx, 2L)
    val swept = manifestText(idx)
    for (kind <- Seq("hashes", "bands"))
      assert(swept.contains(
        s"\"tswept_$kind\": [{\"name\": \"t_old\", \"rows\": 1}]"), swept)
    assert(!swept.contains("\"tombs_"), swept)
    writeManifestText(idx, swept.replace(
      "{\"name\": \"t_old\", \"rows\": 1}", "{\"name\": \"t_old\", \"rows\": 2}"))
    IngestIndex.compact(spark, idx, 3L)
    assert(IngestIndex.tombDirs(spark, idx, "hashes").isEmpty &&
      IngestIndex.tombDirs(spark, idx, "bands").isEmpty)
    assert(!manifestText(idx).contains("t_old"))
    // the retracted content is new to the index again
    StreamOps.ingestBatch(docs(5L -> seed), 4L, idx, out)
    assert(spark.read.parquet(out).filter(col("doc_id") === 5L)
      .select("kept").head().getBoolean(0))
  }

  test("footerRows sums the footers of every part file under a " +
    "partitioned dir, skips non-data files, and reads 0 for an absent " +
    "dir") {
    val t = java.nio.file.Files.createTempDirectory("graft_ii_ft").toString
    val s = spark
    import s.implicits._
    (0 until 300).map(i => (i.toLong, i % 5)).toDF("id", "p")
      .repartition(3).write.partitionBy("p").parquet(s"$t/d")
    (0 until 7).map(_.toLong).toDF("id").write.parquet(s"$t/e")
    assert(new java.io.File(s"$t/d/_SUCCESS").exists)
    assert(IngestIndex.footerRows(spark, Seq(s"$t/d")) === 300L)
    assert(IngestIndex.footerRows(spark,
      Seq(s"$t/d/p=0", s"$t/e", s"$t/absent")) === 60L + 7L)
  }
}
