package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ANN index ingest (AnnIngest): frozen-quantizer assignment,
  * retry idempotency, partition-pruned queries, compaction invariance,
  * and the restart guard. */
class AnnIngestSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** Deterministic little corpus: 60 vectors in 8 dims, values spread
    * enough that cells are non-degenerate. */
  private def vecs(ids: Range) = {
    val s = spark
    import s.implicits._
    ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("ingest assigns every vector to its argmin cell exactly once; " +
    "a retried batchId leaves the index bit-identical") {
    val t = java.nio.file.Files.createTempDirectory("graft_ann1").toString
    AnnIngest.ingestBatch(vecs(0 until 30), 0L, s"$t/idx", nCells = 4)
    AnnIngest.ingestBatch(vecs(30 until 60), 1L, s"$t/idx", nCells = 4)
    val idx = AnnIngest.readIndex(spark, s"$t/idx", None)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(idx.map(_._1) === (0L until 60L))
    // argmin recompute with the SAME frozen centroids must agree
    val cents = AnnIngest.readCentroids(spark, s"$t/idx").get
    val expect = graft.sim.Ivf.assignCells(
      graft.sim.Similarity.prep(vecs(0 until 60)), cents)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(idx === expect)
    // retry batch 1: bit-identical index, centroids untouched
    AnnIngest.ingestBatch(vecs(30 until 60), 1L, s"$t/idx", nCells = 4)
    val again = AnnIngest.readIndex(spark, s"$t/idx", None)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(again === idx)
    assert(AnnIngest.readCentroids(spark, s"$t/idx").get.flatten.toSeq ===
      cents.flatten.toSeq)
  }

  test("centroids freeze at first batch: a later batch with different " +
    "vectors does not retrain the quantizer") {
    val t = java.nio.file.Files.createTempDirectory("graft_ann2").toString
    AnnIngest.ingestBatch(vecs(0 until 20), 0L, s"$t/idx", nCells = 4)
    val c0 = AnnIngest.readCentroids(spark, s"$t/idx").get.flatten.toSeq
    AnnIngest.ingestBatch(vecs(100 until 140), 1L, s"$t/idx", nCells = 4)
    assert(AnnIngest.readCentroids(spark, s"$t/idx").get.flatten.toSeq
      === c0)
  }

  test("query self-hit and compaction invariance: top-1 of an indexed " +
    "vector is itself at cos 1.0, identically before and after compact; " +
    "the compacted base scan carries a cell partition filter") {
    val t = java.nio.file.Files.createTempDirectory("graft_ann3").toString
    (0 until 3).foreach(b => AnnIngest.ingestBatch(
      vecs(b * 20 until (b + 1) * 20), b.toLong, s"$t/idx", nCells = 4))
    val q = vecs(5 until 15)
    def top1() = AnnIngest.queryTopK(spark, s"$t/idx", q, k = 1,
        nProbe = 1)
      .select("vec_id", "nb_id", "cos_r").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val before = top1()
    assert(before.map(_._1) === (5L until 15L))
    before.foreach { case (id, nb, cos) =>
      assert(nb === id && cos === 1.0, s"self-hit failed for $id")
    }
    AnnIngest.compact(spark, s"$t/idx", 2L)
    assert(top1() === before)
    // folded: one run remains, and a pruned read shows the filter
    val (runs, deltas) = AnnIngest.live(spark, s"$t/idx", Long.MaxValue)
    assert(runs === Seq(s"$t/idx/vectors/run_2_0") && deltas.isEmpty)
    // compaction wrote the skew report (bounded: <= nCells entries)
    val skewTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/idx/skew_v2.json")), "UTF-8")
    assert(skewTxt.contains("\"skew\""))
    val pruned = AnnIngest.readIndex(spark, s"$t/idx", Some(Seq(1)))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected cell partition filter:\n$plan")
  }

  test("nProbe recall knob: probe-4 recall@3 >= probe-1 recall@3 vs " +
    "exact cosine truth (self-matches excluded)") {
    val t = java.nio.file.Files.createTempDirectory("graft_ann4").toString
    val all = vecs(0 until 60)
    AnnIngest.ingestBatch(all, 0L, s"$t/idx", nCells = 4)
    val exact = graft.sim.Similarity.cosineTopK(all, k = 3)
      .select("vec_id", "nb_id")
    def recall(nProbe: Int): Double = {
      val approx = AnnIngest.queryTopK(spark, s"$t/idx", all, k = 4,
          nProbe = nProbe)
        .filter(col("vec_id") =!= col("nb_id"))
        .select("vec_id", "nb_id")
      approx.join(exact, Seq("vec_id", "nb_id"), "left_semi")
        .count().toDouble / exact.count()
    }
    val r1 = recall(1); val r4 = recall(4)
    assert(r1 >= 0.0 && r1 <= 1.0)
    assert(r4 >= r1, s"probe-4 recall $r4 < probe-1 $r1")
    assert(r4 === 1.0, // nProbe = nCells probes every cell → brute force
      s"probing all 4 cells must recover exact truth, got $r4")
  }

  test("cellsFor grows with expected corpus (~sqrt n) and clamps at " +
    "both ends — the anti-fixed-geometry knob") {
    assert(AnnIngest.cellsFor(1L) === 1)
    assert(AnnIngest.cellsFor(10000L) === 100)
    assert(AnnIngest.cellsFor(1000000L) === 1000)
    assert(AnnIngest.cellsFor(1000000000L) === 31623)
    assert(AnnIngest.cellsFor(Long.MaxValue / 4) === (1 << 16)) // clamp
    assert(AnnIngest.cellsFor(100L) > AnnIngest.cellsFor(10L))
    intercept[IllegalArgumentException](AnnIngest.cellsFor(0L))
  }

  test("leveled compaction: small compactions fold only their deltas — " +
    "the big run survives by name across later cycles") {
    val t = java.nio.file.Files.createTempDirectory("graft_ann7").toString
    // 8 batches of 8 vectors, compact after every batch: binary counter
    (0 until 8).foreach { b =>
      AnnIngest.ingestBatch(vecs(b * 8 until (b + 1) * 8), b.toLong,
        s"$t/idx", nCells = 4)
      AnnIngest.compact(spark, s"$t/idx", b.toLong)
      if (b == 6) {
        val runs = graft.streaming.IngestIndex
          .readManifest(spark, s"$t/idx").runs("vectors")
        assert(runs.map(_.rows) === Seq(32L, 16L, 8L))
        assert(runs.head.name.startsWith("run_3_"),
          s"32-run built at t=3 must survive t=4..6: $runs")
      }
    }
    val m = graft.streaming.IngestIndex.readManifest(spark, s"$t/idx")
    assert(m.runs("vectors").map(_.rows) === Seq(64L))
    // every vector is in the index exactly once through all the merges
    val ids = AnnIngest.readIndex(spark, s"$t/idx", None)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 64L))
    // skew telemetry never accumulates (one report per compaction would
    // leak on a forever stream) and is never left ABSENT either — the
    // newest report survives its own cleanup pass (write-then-delete
    // ordering, keep-current rule)
    val skews = new java.io.File(s"$t/idx").listFiles.toSeq
      .map(_.getName).filter(_.startsWith("skew_v"))
    assert(skews === Seq("skew_v7.json"))
  }

  test("skew telemetry reads TOTAL COLLAPSE as maximal skew — the " +
    "denominator is the quantizer's cell count, not the populated-cell " +
    "count — and retrainSkewAbove fires on exactly that state") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // hand-placed 4-cell quantizer: cell 0 sits on the feed, cells 1-3
    // far away — EVERY ingested vector collapses into cell 0, the
    // worst-case drift the telemetry exists for
    val farCents = Array(
      Array.fill(8)(0.0),
      Array.fill(8)(-100.0),
      Array.tabulate(8)(d => if (d % 2 == 0) 100.0 else -100.0),
      Array.fill(8)(100.0))
    val t = java.nio.file.Files.createTempDirectory("graft_ann11").toString
    AnnIngest.writeCentroids(spark, s"$t/idx", farCents)
    AnnIngest.ingestBatch(vecs(0 until 20), 0L, s"$t/idx", nCells = 4)
    val (skew, counts) = AnnIngest.skewReport(spark, s"$t/idx", 0L)
    assert(counts.keySet === Set(0) && counts(0) === 20L)
    // max * nCells / sum = 20 * 4 / 20; the populated-cell denominator
    // reads this as 1.0 ("perfectly balanced") and the trigger never fires
    assert(skew === 4.0)
    // the closed loop: a stream over the same collapsing feed self-heals
    val t2 = java.nio.file.Files.createTempDirectory("graft_ann12").toString
    AnnIngest.writeCentroids(spark, s"$t2/idx", farCents)
    val ms = MemoryStream[(Long, Seq[Double])]
    def feed(ids: Range) = ids.map(i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7))))
    val q = AnnIngest.annIngestStream(
      ms.toDF().toDF("vec_id", "embedding"), s"$t2/idx",
      checkpoint = Some(s"$t2/ckpt"), nCells = 4, compactEvery = 2,
      retrainSkewAbove = 2.0)
    try {
      ms.addData(feed(0 until 20)); q.processAllAvailable()
      ms.addData(feed(20 until 40)); q.processAllAvailable()
      // upTo=1 compaction recorded the collapse (no prior telemetry yet)
      assert(AnnIngest.quantizerName(spark, s"$t2/idx").isEmpty)
      assert(AnnIngest.lastSkew(spark, s"$t2/idx").exists(_ >= 3.9))
      ms.addData(feed(40 until 60)); q.processAllAvailable()
      ms.addData(feed(60 until 80)); q.processAllAvailable()
    } finally q.stop()
    // the upTo=3 compaction read skew 4.0 > 2.0 and retrained
    assert(AnnIngest.quantizerName(spark, s"$t2/idx")
      === Some("centroids_v3.json"))
    // the healed quantizer spreads the actual feed back across cells
    assert(AnnIngest.lastSkew(spark, s"$t2/idx").exists(_ < 4.0))
    assert(AnnIngest.readIndex(spark, s"$t2/idx", None).count() === 80L)
  }

  test("retrain over a fully-tombstoned corpus commits an empty run set " +
    "instead of wedging: maxCompacted advances, the tombstone lifecycle " +
    "proceeds to its sweep, and re-ingest works afterward") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann13").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 20), 0L, idx, nCells = 4)
    AnnIngest.delete(spark, idx, (0L until 20L).toDF("vec_id"), "all")
    // the unguarded path called Ivf.centroids on zero rows and threw —
    // and every retry (retrainOnCompact / a tripped skew trigger)
    // re-entered the same state, so compaction never advanced
    AnnIngest.compact(spark, idx, 0L, retrain = true)
    val m = graft.streaming.IngestIndex.readManifest(spark, idx)
    assert(m.maxCompacted === 0L)
    assert(m.runs.get("vectors").isEmpty)
    assert(m.runs("tombs").map(_.name) === Seq("t_all"))
    assert(AnnIngest.readIndex(spark, idx, None).count() === 0L)
    // lifecycle proceeds: logical sweep, then physical deletion
    AnnIngest.ingestBatch(vecs(20 until 25), 1L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 1L)
    assert(graft.streaming.IngestIndex.readManifest(spark, idx)
      .runs("tswept").map(_.name) === Seq("t_all"))
    AnnIngest.compact(spark, idx, 2L)
    assert(AnnIngest.tombDirs(spark, idx).isEmpty)
    // post-sweep re-ingest of formerly-deleted ids is visible again
    AnnIngest.ingestBatch(vecs(0 until 5), 3L, idx, nCells = 4)
    val ids = AnnIngest.readIndex(spark, idx, None)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === ((0L until 5L) ++ (20L until 25L)))
  }

  test("retrain-at-compaction: a distribution-shifted feed is detected " +
    "by the skew report, and the retrained index still satisfies the " +
    "probe-all == exact contract with queries flipped atomically") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann8").toString
    // first batch: well-spread vectors — the frozen quantizer's 4
    // cells tile THAT distribution...
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (base + 0.01 * math.sin(i * 31 + d * 7)).toFloat))
    }.toDF("vec_id", "embedding")
    AnnIngest.ingestBatch(vecs(0 until 30), 0L, s"$t/idx", nCells = 4)
    // ...then the feed SHIFTS: a tight far-away cluster piles into one
    // frozen cell — the drift the skew report exists to flag
    AnnIngest.ingestBatch(cluster(30 until 90, -5.0), 1L, s"$t/idx",
      nCells = 4)
    AnnIngest.compact(spark, s"$t/idx", 1L)
    val (skewBefore, _) = AnnIngest.skewReport(spark, s"$t/idx", 1L)
    assert(skewBefore > 1.3, // >= 60 of 90 rows crowd one old cell
      s"expected skew from the shifted feed, got $skewBefore")
    // retrain rebuilds cells for the ACTUAL corpus and commits the new
    // centroids + reassigned run in one manifest swap
    AnnIngest.ingestBatch(cluster(90 until 120, -5.2), 2L, s"$t/idx",
      nCells = 4)
    AnnIngest.compact(spark, s"$t/idx", 2L, retrain = true)
    val m = graft.streaming.IngestIndex.readManifest(spark, s"$t/idx")
    assert(m.cents === Some("centroids_v2.json"))
    val (_, counts) = AnnIngest.skewReport(spark, s"$t/idx", 2L)
    assert(counts.values.sum === 120L) // nothing lost in the rebuild
    // index rows agree with the NEW quantizer (atomic flip: no row
    // still carries an old-centroid cell)
    val cents = AnnIngest.readCentroids(spark, s"$t/idx").get
    val idx = AnnIngest.readIndex(spark, s"$t/idx", None)
    val expect = graft.sim.Ivf.assignCells(
      idx.select("vec_id", "e", "norm"), cents)
      .select(col("vec_id"), col("cell").as("cell_x"))
    assert(idx.join(expect, Seq("vec_id"))
      .filter(col("cell") =!= col("cell_x")).count() === 0L)
    // probe-all == exact: probing every cell through the retrained
    // index recovers each vector as its own top-1 at cos 1.0
    val q = vecs(0 until 10).union(cluster(40 until 50, -5.0))
    val self = AnnIngest.queryTopK(spark, s"$t/idx", q, k = 1, nProbe = 4)
      .filter(col("nb_id") =!= col("vec_id") || col("cos_r") < 1.0)
    assert(self.count() === 0L)
    // ingest AFTER retrain assigns under the new quantizer too
    AnnIngest.ingestBatch(cluster(120 until 130, -4.8), 3L, s"$t/idx",
      nCells = 4)
    val post = AnnIngest.readIndex(spark, s"$t/idx", None)
      .filter(col("vec_id") >= 120)
    val postExpect = graft.sim.Ivf.assignCells(
      post.select("vec_id", "e", "norm"), cents)
      .select(col("vec_id"), col("cell").as("cell_x"))
    assert(post.join(postExpect, Seq("vec_id"))
      .filter(col("cell") =!= col("cell_x")).count() === 0L)
  }

  test("retrainSkewAbove closes the telemetry loop: a compaction whose " +
    "predecessor recorded high cell skew retrains automatically, without " +
    "retrainOnCompact") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t = java.nio.file.Files.createTempDirectory("graft_ann9").toString
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Seq.tabulate(8)(d =>
        base + 0.01 * math.sin(i * 31 + d * 7)))
    }
    def spread(ids: Range) = ids.map { i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7)))
    }
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = AnnIngest.annIngestStream(
      ms.toDF().toDF("vec_id", "embedding"), s"$t/idx",
      checkpoint = Some(s"$t/ckpt"), nCells = 4, compactEvery = 2,
      retrainSkewAbove = 1.3)
    try {
      // batch 0 spread (quantizer freezes on it), batch 1 the shifted
      // cluster -> compaction at upTo=1 records high skew (no retrain:
      // there is no prior telemetry yet)
      ms.addData(spread(0 until 30)); q.processAllAvailable()
      ms.addData(cluster(30 until 90, -5.0)); q.processAllAvailable()
      assert(AnnIngest.quantizerName(spark, s"$t/idx").isEmpty)
      assert(AnnIngest.lastSkew(spark, s"$t/idx").exists(_ > 1.3))
      // two more shifted batches -> the upTo=3 compaction reads the
      // recorded skew and self-heals by retraining
      ms.addData(cluster(90 until 110, -5.1)); q.processAllAvailable()
      ms.addData(cluster(110 until 120, -5.2)); q.processAllAvailable()
    } finally q.stop()
    assert(AnnIngest.quantizerName(spark, s"$t/idx")
      === Some("centroids_v3.json"))
    // the rebuilt index is consistent with the committed quantizer
    val cents = AnnIngest.readCentroids(spark, s"$t/idx").get
    val idx = AnnIngest.readIndex(spark, s"$t/idx", None)
    val expect = graft.sim.Ivf.assignCells(
      idx.select("vec_id", "e", "norm"), cents)
      .select(col("vec_id"), col("cell").as("cell_x"))
    assert(idx.join(expect, Seq("vec_id"))
      .filter(col("cell") =!= col("cell_x")).count() === 0L)
    assert(idx.count() === 120L)
  }

  test("delete tombstones: ids vanish from queries immediately, " +
    "compaction folds them out of every run it writes, and the " +
    "tombstone is swept only after no live run predates it (plus one " +
    "reader generation)") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann10").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 20), 0L, idx, nCells = 4)
    AnnIngest.ingestBatch(vecs(20 until 40), 1L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 1L) // run_1_0 holds 0..39
    // a 40-vector batch so the t=2 fold lands in run_1_0's size class
    // and the merge cascade rewrites EVERY run under the tombstone
    AnnIngest.ingestBatch(vecs(40 until 80), 2L, idx, nCells = 4)
    // tombstone two ids: one in the compacted run, one in the delta
    AnnIngest.delete(spark, idx, Seq(5L, 45L).toDF("vec_id"), "case1")
    def liveIds() = AnnIngest.readIndex(spark, idx, None)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(liveIds() === ((0L until 80L).filterNot(Set(5L, 45L))),
      "reader-side exclusion is immediate")
    // query path excludes them too (probe-all top-1 of a deleted id
    // must NOT return itself)
    val top1 = AnnIngest.queryTopK(spark, idx, vecs(5 until 6),
      k = 1, nProbe = 4).select("nb_id").collect().map(_.getLong(0))
    assert(!top1.contains(5L))
    // compaction at t=2: fold (39 rows) shares run_1_0's size class ->
    // cascade merge; every written run is clean, but the tombstone is
    // NOT yet sweepable at its first application
    AnnIngest.compact(spark, idx, 2L)
    assert(AnnIngest.tombDirs(spark, idx).nonEmpty,
      "first application must not sweep (reader generation)")
    val m2 = graft.streaming.IngestIndex.readManifest(spark, idx)
    assert(m2.runs("tombs").map(_.name) === Seq("t_case1"))
    assert(m2.runs("vectors").map(_.rows) === Seq(78L)) // 80 - 2 deleted
    // the physical run excludes the ids (read the run parquet raw,
    // bypassing the reader-side anti-join)
    val raw = m2.runs("vectors").map(r =>
      spark.read.option("basePath", s"$idx/vectors/${r.name}")
        .parquet(s"$idx/vectors/${r.name}"))
      .reduce(_ unionByName _).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!raw.contains(5L) && !raw.contains(45L))
    // next compaction: all runs postdate the tomb AND the condition
    // held at the previous manifest -> LOGICAL sweep (manifest entry
    // moves to tswept; the files stay one more generation so readers
    // that planned an anti-join against them can finish)
    AnnIngest.ingestBatch(vecs(80 until 100), 3L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 3L)
    val m3 = graft.streaming.IngestIndex.readManifest(spark, idx)
    assert(m3.runs.get("tombs").isEmpty)
    assert(m3.runs("tswept").map(_.name) === Seq("t_case1"))
    assert(AnnIngest.tombDirs(spark, idx).nonEmpty,
      "files stay through the reader-grace generation")
    // re-issuing an APPLIED tag is refused — extending it could sweep
    // before the new ids are physically removed
    val ex = intercept[IllegalArgumentException] {
      AnnIngest.delete(spark, idx, Seq(7L).toDF("vec_id"), "case1")
    }
    assert(ex.getMessage.contains("already applied"))
    // one more compaction physically deletes the tombstone
    AnnIngest.compact(spark, idx, 4L)
    assert(AnnIngest.tombDirs(spark, idx).isEmpty, "deleted at gen+2")
    assert(graft.streaming.IngestIndex.readManifest(spark, idx)
      .runs.get("tswept").isEmpty)
    // a live tombstone is a STANDING exclusion; once physically gone,
    // a deleted id can be re-ingested and becomes visible again
    AnnIngest.ingestBatch(vecs(5 until 6), 5L, idx, nCells = 4)
    assert(liveIds() === ((0L until 100L).filterNot(_ == 45L)),
      "re-ingest after the sweep is visible")
  }

  test("takedown tombstones are SOURCE-scoped: a vec_id re-ingested " +
    "after the delete is visible immediately — not hidden until the " +
    "sweep — and compaction keeps the fresh row while dropping the " +
    "pre-delete copies") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann21").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 20), 0L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 0L)
    AnnIngest.delete(spark, idx, Seq(5L).toDF("vec_id"), "gone")
    def ids() = AnnIngest.readIndex(spark, idx, None)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(!ids().contains(5L), "pre-delete copy excluded immediately")
    // recycle the id with FRESH content while the tombstone is live
    AnnIngest.ingestBatch(vecs(5 until 6), 1L, idx, nCells = 4)
    assert(ids().count(_ == 5L) === 1,
      "the re-ingest must be visible IMMEDIATELY, not after the sweep")
    // compaction folds the fresh row through the scoped anti-join —
    // live view exactly-once (the pre-delete copy stays PHYSICALLY in
    // run_0 until a merge rewrites it; the reader anti-join hides it)
    AnnIngest.compact(spark, idx, 1L)
    assert(ids().sorted === (0L until 20L).sorted,
      "live view: every id exactly once, including the recycled one")
    // a 20-row batch lands the fold in run_0's size class: the merge
    // cascade rewrites the pre-application run — the scoped clean
    // drops the pre-delete copy and KEEPS the fresh one
    AnnIngest.ingestBatch(vecs(20 until 40), 2L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 2L)
    val m = IngestIndex.readManifest(spark, idx)
    val raw = m.runs("vectors").map(r =>
      spark.read.option("basePath", s"$idx/vectors/${r.name}")
        .parquet(s"$idx/vectors/${r.name}"))
      .reduce(_ unionByName _).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(raw.count(_ == 5L) === 1,
      "the merge must keep the post-delete re-ingest and drop the " +
        "pre-delete copy")
    // the tombstone still runs its normal lifecycle to the sweep
    AnnIngest.compact(spark, idx, 3L)
    AnnIngest.compact(spark, idx, 4L)
    assert(AnnIngest.tombDirs(spark, idx).isEmpty, "swept")
    assert(ids().sorted === (0L until 40L).sorted)
  }

  test("split-cell local retrain: hot cells re-cluster into appended " +
    "sub-centroids, <20% of index rows are rewritten, the pre-split " +
    "run survives by name, and the argmin-cell contract holds under " +
    "the extended quantizer") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann15").toString
    val idx = s"$t/idx"
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (base + 0.01 * math.sin(i * 31 + d * 7)).toFloat))
    }.toDF("vec_id", "embedding")
    // freeze a 16-cell quantizer on a 300-vector spread batch...
    AnnIngest.ingestBatch(vecs(0 until 300), 0L, idx, nCells = 16)
    // ...then drift: a tight far-away 40-vector cluster piles into ONE
    // frozen cell (~3x the mean occupancy)
    AnnIngest.ingestBatch(cluster(300 until 340, -5.0), 1L, idx,
      nCells = 16)
    AnnIngest.compact(spark, idx, 1L)
    val centsBefore = AnnIngest.readCentroids(spark, idx).get
    val runsBefore = graft.streaming.IngestIndex
      .readManifest(spark, idx).runs("vectors")
    // the heal: local split, not the full rebuild
    AnnIngest.compact(spark, idx, 2L, splitHot = 2.0)
    val m = graft.streaming.IngestIndex.readManifest(spark, idx)
    assert(m.cents === Some("centroids_v2.json"))
    // post-heal telemetry is LIVE, not physical: the skew report's
    // per-cell counts equal the live view exactly (stale copies
    // excluded), so the stream's skew trigger cannot re-fire a
    // useless heal off the healed cell's stale physical copies
    val skewTxt2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idx/skew_v2.json")), "UTF-8")
    val reported = "\"(\\d+)\": (\\d+)".r.findAllMatchIn(skewTxt2)
      .map(mm => mm.group(1).toInt -> mm.group(2).toLong).toMap
    val liveCounts = AnnIngest.readIndex(spark, idx, None)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(reported === liveCounts,
      s"post-heal skew cells must be the LIVE occupancy:\n$skewTxt2\n$liveCounts")
    val centsAfter = AnnIngest.readCentroids(spark, idx).get
    assert(centsAfter.length > centsBefore.length,
      "sub-centroids must be appended")
    // untouched cells keep their files: every pre-split run survives
    // by name (a full rebuild would replace them all)
    assert(runsBefore.map(_.name)
      .forall(n => m.runs("vectors").exists(_.name == n)),
      s"pre-split runs must survive: before=$runsBefore after=${m.runs("vectors")}")
    // <20% of index rows rewritten (the relocation run holds movers only)
    val reloc = m.runs("vectors").filter(_.name.startsWith("run_2_"))
    val movedRows = reloc.map(_.rows).sum
    assert(movedRows > 0, "the split must relocate the hot-cell movers")
    assert(movedRows.toDouble / 340 < 0.20,
      s"split rewrote $movedRows of 340 rows — not a local heal")
    // cell-scoped tombstone recorded, applied-at next cycle (this
    // cycle's runs still hold the stale copies)
    assert(m.runs("tombs").map(_.name).contains("t_split_2"))
    // live view: nothing lost, nothing duplicated (stale copies are
    // excluded by the cell-scoped tombstone)
    val live = AnnIngest.readIndex(spark, idx, None)
    assert(live.count() === 340L)
    assert(live.select("vec_id").distinct().count() === 340L)
    // argmin contract: every live row sits in its argmin cell under
    // the COMMITTED extended quantizer
    val expect = graft.sim.Ivf.assignCells(
      live.select("vec_id", "e", "norm"), centsAfter)
      .select(col("vec_id"), col("cell").as("cell_x"))
    assert(live.join(expect, Seq("vec_id"))
      .filter(col("cell") =!= col("cell_x")).count() === 0L)
    // probe-all == exact through the healed index
    val q = vecs(0 until 10).union(cluster(310 until 320, -5.0))
    val self = AnnIngest.queryTopK(spark, idx, q, k = 1,
      nProbe = centsAfter.length)
      .filter(col("nb_id") =!= col("vec_id") || col("cos_r") < 1.0)
    assert(self.count() === 0L)
    // ingest AFTER the split assigns under the extended quantizer
    AnnIngest.ingestBatch(cluster(340 until 350, -5.1), 3L, idx,
      nCells = 16)
    val post = AnnIngest.readIndex(spark, idx, None)
      .filter(col("vec_id") >= 340)
    val postEx = graft.sim.Ivf.assignCells(
      post.select("vec_id", "e", "norm"), centsAfter)
      .select(col("vec_id"), col("cell").as("cell_x"))
    assert(post.join(postEx, Seq("vec_id"))
      .filter(col("cell") =!= col("cell_x")).count() === 0L)
    // the next compaction folds/merges with the cell-scoped tombstone
    // applied — the live view stays exact through it
    AnnIngest.compact(spark, idx, 3L)
    assert(AnnIngest.readIndex(spark, idx, None).count() === 350L)
    assert(AnnIngest.readIndex(spark, idx, None)
      .select("vec_id").distinct().count() === 350L)
  }

  test("splitSkewAbove closes the telemetry loop with the LOCAL heal: " +
    "a collapsing feed trips the recorded skew and the next compaction " +
    "splits the hot cell instead of rebuilding the index") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val farCents = Array(
      Array.fill(8)(0.0),
      Array.fill(8)(-100.0),
      Array.tabulate(8)(d => if (d % 2 == 0) 100.0 else -100.0),
      Array.fill(8)(100.0))
    val t = java.nio.file.Files.createTempDirectory("graft_ann16").toString
    AnnIngest.writeCentroids(spark, s"$t/idx", farCents)
    val ms = MemoryStream[(Long, Seq[Double])]
    def feed(ids: Range) = ids.map(i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7))))
    val q = AnnIngest.annIngestStream(
      ms.toDF().toDF("vec_id", "embedding"), s"$t/idx",
      checkpoint = Some(s"$t/ckpt"), nCells = 4, compactEvery = 2,
      splitSkewAbove = 2.0)
    try {
      ms.addData(feed(0 until 20)); q.processAllAvailable()
      ms.addData(feed(20 until 40)); q.processAllAvailable()
      assert(AnnIngest.quantizerName(spark, s"$t/idx").isEmpty)
      ms.addData(feed(40 until 60)); q.processAllAvailable()
      ms.addData(feed(60 until 80)); q.processAllAvailable()
    } finally q.stop()
    // the upTo=3 compaction split the collapsed cell: quantizer
    // extended (not rebuilt at the same width), committed atomically
    assert(AnnIngest.quantizerName(spark, s"$t/idx")
      === Some("centroids_v3.json"))
    val cents = AnnIngest.readCentroids(spark, s"$t/idx").get
    assert(cents.length > 4, "split must APPEND sub-centroids")
    val idx = AnnIngest.readIndex(spark, s"$t/idx", None)
    assert(idx.count() === 80L)
    val expect = graft.sim.Ivf.assignCells(
      idx.select("vec_id", "e", "norm"), cents)
      .select(col("vec_id"), col("cell").as("cell_x"))
    assert(idx.join(expect, Seq("vec_id"))
      .filter(col("cell") =!= col("cell_x")).count() === 0L)
  }

  test("cold-cell FOLD (the split's inverse): a drift-then-drain feed " +
    "shrinks the LIVE quantizer back — drained cells deaden in place " +
    "(slot ids stable), their residual rows relocate into surviving " +
    "cells via the same relocation-run + cell-scoped tombstone + one " +
    "manifest swap, and argmin + live-exactly-once + probe-all==exact " +
    "hold through the fold and the next compaction") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann20").toString
    val idx = s"$t/idx"
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (base + 0.01 * math.sin(i * 31 + d * 7)).toFloat))
    }.toDF("vec_id", "embedding")
    // drift: freeze 16 cells on a spread batch, pile a far cluster
    // into one hot cell, split-heal it (quantizer GROWS)
    AnnIngest.ingestBatch(vecs(0 until 300), 0L, idx, nCells = 16)
    AnnIngest.ingestBatch(cluster(300 until 340, -5.0), 1L, idx,
      nCells = 16)
    AnnIngest.compact(spark, idx, 1L)
    AnnIngest.compact(spark, idx, 2L, splitHot = 2.0)
    val centsSplit = AnnIngest.readCentroids(spark, idx).get
    val liveSplit = AnnIngest.liveCellCount(spark, idx)
    assert(centsSplit.length > 16 && liveSplit === centsSplit.length)
    // drain: a takedown wave empties most of the far cluster — its
    // sub-cells drop far below mean occupancy
    AnnIngest.delete(spark, idx,
      (300L until 332L).toDF("vec_id"), "drainwave")
    AnnIngest.compact(spark, idx, 3L, foldColdBelow = 0.5)
    val centsFold = AnnIngest.readCentroids(spark, idx).get
    val liveFold = AnnIngest.liveCellCount(spark, idx)
    assert(liveFold < liveSplit, s"fold must shrink the LIVE quantizer " +
      s"($liveSplit -> $liveFold)")
    assert(centsFold.length === centsSplit.length,
      "slot ids must stay stable — dead slots keep their positions")
    assert(graft.streaming.IngestIndex.readManifest(spark, idx)
      .cents === Some("centroids_v3_f.json"))
    // residual rows of the folded cells were relocated: the fold
    // tombstone is recorded and the live view is exact
    val m3 = graft.streaming.IngestIndex.readManifest(spark, idx)
    assert(m3.runs("tombs").map(_.name).contains("t_split_f3"),
      s"fold tombstone missing: ${m3.runs.get("tombs")}")
    def liveView() = AnnIngest.readIndex(spark, idx, None)
    assert(liveView().count() === 308L) // 340 - 32 drained
    assert(liveView().select("vec_id").distinct().count() === 308L)
    // argmin contract under the committed folded quantizer (NaN slots
    // never win a running min)
    val expect = graft.sim.Ivf.assignCells(
      liveView().select("vec_id", "e", "norm"), centsFold)
      .select(col("vec_id"), col("cell").as("cell_x"))
    assert(liveView().join(expect, Seq("vec_id"))
      .filter(col("cell") =!= col("cell_x")).count() === 0L)
    // no live row sits in a dead slot
    val deadSlots = centsFold.indices.filter(c => centsFold(c)(0).isNaN)
    assert(deadSlots.nonEmpty)
    assert(liveView().filter(col("cell").isin(deadSlots: _*))
      .count() === 0L)
    // probe-all == exact through the folded index (probe sets skip
    // dead slots)
    val q = vecs(10 until 20).union(cluster(332 until 336, -5.0))
    val self = AnnIngest.queryTopK(spark, idx, q, k = 1,
      nProbe = centsFold.length)
      .filter(col("nb_id") =!= col("vec_id") || col("cos_r") < 1.0)
    assert(self.count() === 0L)
    // post-fold ingest assigns under the folded quantizer; the next
    // compaction folds/merges with the fold tombstone applied and the
    // live view stays exact
    AnnIngest.ingestBatch(vecs(400 until 420), 4L, idx, nCells = 16)
    AnnIngest.compact(spark, idx, 4L)
    assert(liveView().count() === 328L)
    assert(liveView().select("vec_id").distinct().count() === 328L)
    assert(AnnIngest.liveCellCount(spark, idx) === liveFold,
      "a plain compaction must not resurrect dead slots")
  }

  test("long-horizon heal soak: 16 batches with two distribution " +
    "shifts and a takedown wave, splitSkewAbove + foldColdBelow armed " +
    "— repeated heals keep live-exactly-once green at every compaction " +
    "boundary, splits grow the live quantizer under drift, and the " +
    "post-drain folds shrink it back") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t = java.nio.file.Files.createTempDirectory("graft_ann21").toString
    val idx = s"$t/idx"
    def feed(ids: Range, base: Double, spread: Double) = ids.map(i =>
      (i.toLong, Seq.tabulate(8)(d =>
        base + spread * math.sin(i * 31 + d * 7))))
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = AnnIngest.annIngestStream(
      ms.toDF().toDF("vec_id", "embedding"), idx,
      checkpoint = Some(s"$t/ckpt"), nCells = 8, compactEvery = 2,
      splitSkewAbove = 2.0, foldColdBelow = 0.3)
    val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
    try {
      (0 until 16).foreach { b =>
        val ids = (b * 100) until ((b + 1) * 100)
        // era 1: spread base; era 2 (drift A): tight far cluster; era
        // 3 (drift B): tight cluster on the other side
        val rows =
          if (b < 6) feed(ids, 0.0, 1.0)
          else if (b < 11) feed(ids, -7.0, 0.01)
          else feed(ids, 9.0, 0.01)
        ms.addData(rows); q.processAllAvailable()
        if ((b + 1) % 2 == 0) {
          widths += AnnIngest.liveCellCount(spark, idx)
          // the standing contract at every compaction boundary
          val live = AnnIngest.readIndex(spark, idx, None)
          assert(live.count() === ((b + 1) * 100).toLong,
            s"live count broken after batch $b")
          assert(live.select("vec_id").distinct().count()
            === ((b + 1) * 100).toLong)
        }
      }
    } finally q.stop()
    val peak = widths.max
    assert(peak > 8, s"the drift eras must trigger splits (widths=$widths)")
    // takedown wave: era-2 is fully retracted; the fold at the next
    // compactions collects its drained cells
    AnnIngest.delete(spark, idx, (600L until 1100L).toDF("vec_id"),
      "waveA")
    AnnIngest.compact(spark, idx, 16L, foldColdBelow = 0.3)
    AnnIngest.compact(spark, idx, 17L, foldColdBelow = 0.3)
    val after = AnnIngest.liveCellCount(spark, idx)
    assert(after < peak,
      s"post-drain folds must shrink the live quantizer ($peak -> $after)")
    // end-state contracts through every heal in the horizon
    val cents = AnnIngest.readCentroids(spark, idx).get
    val live = AnnIngest.readIndex(spark, idx, None).persist()
    try {
      assert(live.count() === 1100L) // 1600 - 500 drained
      assert(live.select("vec_id").distinct().count() === 1100L)
      val expect = graft.sim.Ivf.assignCells(
        live.select("vec_id", "e", "norm"), cents)
        .select(col("vec_id"), col("cell").as("cell_x"))
      assert(live.join(expect, Seq("vec_id"))
        .filter(col("cell") =!= col("cell_x")).count() === 0L)
      val dead = cents.indices.filter(c => cents(c)(0).isNaN)
      assert(dead.nonEmpty, "the folds must have deadened slots")
      assert(live.filter(col("cell").isin(dead: _*)).count() === 0L)
      // probe-all == exact across survivors of all three eras
      val sample = feed(0 until 10, 0.0, 1.0) ++
        feed(1200 until 1210, 9.0, 0.01)
      val self = AnnIngest.queryTopK(spark, idx,
        sample.toDF("vec_id", "embedding"), k = 1,
        nProbe = cents.length)
        .filter(col("nb_id") =!= col("vec_id") || col("cos_r") < 1.0)
      assert(self.count() === 0L)
    } finally { live.unpersist(false); () }
  }

  test("split tombstones are SOURCE-scoped: a vec_id re-ingested after " +
    "the split whose updated embedding lands back in its old cell is " +
    "not mistaken for the stale pre-split copy — it stays live and " +
    "survives the next compaction's fold") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann18").toString
    val idx = s"$t/idx"
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (base + 0.01 * math.sin(i * 31 + d * 7)).toFloat))
    }.toDF("vec_id", "embedding")
    AnnIngest.ingestBatch(vecs(0 until 300), 0L, idx, nCells = 16)
    AnnIngest.ingestBatch(cluster(300 until 340, -5.0), 1L, idx,
      nCells = 16)
    AnnIngest.compact(spark, idx, 1L)
    AnnIngest.compact(spark, idx, 2L, splitHot = 2.0)
    val m = graft.streaming.IngestIndex.readManifest(spark, idx)
    assert(m.runs("tombs").map(_.name).contains("t_split_2"))
    // pick a mover straight from the live split tombstone: its stale
    // copy sits in (vid, oldCell) of a pre-split run
    val mover = spark.read.parquet(s"$idx/tombs/t_split_2")
      .select("vec_id", "cell").head()
    val (vid, oldCell) = (mover.getLong(0), mover.getInt(1))
    // re-ingest the SAME vec_id with an UPDATED embedding that argmins
    // back into its old cell under the extended quantizer (the old
    // slot id still exists — the split replaced its centroid in place)
    val cents = AnnIngest.readCentroids(spark, idx).get
    val eNew = cents(oldCell).map(_.toFloat)
    AnnIngest.ingestBatch(Seq((vid, eNew)).toDF("vec_id", "embedding"),
      3L, idx, nCells = 16)
    val freshRow = spark.read.option("basePath", s"$idx/vectors/batch=3")
      .parquet(s"$idx/vectors/batch=3").select("vec_id", "cell").head()
    assert(freshRow.getInt(1) === oldCell,
      "drill setup: the fresh row must land in the tombstoned cell")
    // live view: BOTH copies of vid visible — the relocated split copy
    // and the fresh re-ingest; the cell-scoped tombstone hides only
    // the stale PRE-SPLIT copy (source-scoped: src_id < applied-at)
    def vidRows() = AnnIngest.readIndex(spark, idx, None)
      .filter(col("vec_id") === vid)
    assert(vidRows().count() === 2L,
      "the fresh re-ingest must not be eaten by the split tombstone")
    assert(vidRows().filter(col("cell") === oldCell).count() === 1L)
    // the next compaction folds the delta THROUGH the tombstone
    // anti-join — the fresh row must be physically retained
    AnnIngest.compact(spark, idx, 3L)
    assert(vidRows().count() === 2L,
      "the fold must not physically drop the fresh re-ingest")
    assert(vidRows().filter(col("cell") === oldCell).count() === 1L)
  }

  test("a heal SCAN that fires no heal still records LIVE telemetry: " +
    "with a live takedown tombstone, the post-compaction skew report's " +
    "cells equal the live view — the physical fallback (stale copies " +
    "included) would re-trigger the full scan on every later cycle") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann20").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 200), 0L, idx, nCells = 8)
    AnnIngest.compact(spark, idx, 0L)
    AnnIngest.delete(spark, idx,
      (0L until 100L by 2).toDF("vec_id"), "half")
    // the scan runs (splitHot armed) and finds nothing hot
    AnnIngest.compact(spark, idx, 1L, splitHot = 100.0)
    assert(IngestIndex.readManifest(spark, idx)
      .runs.getOrElse("tombs", Nil).nonEmpty,
      "drill setup: the takedown tombstone must still be live")
    val skewTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idx/skew_v1.json")), "UTF-8")
    val reported = "\"(\\d+)\": (\\d+)".r.findAllMatchIn(skewTxt)
      .map(mm => mm.group(1).toInt -> mm.group(2).toLong).toMap
    val liveCounts = AnnIngest.readIndex(spark, idx, None)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(liveCounts.values.sum === 150L)
    assert(reported === liveCounts,
      s"no-heal scan must still report LIVE occupancy:\n$skewTxt\n$liveCounts")
  }

  test("a SWEPT split tombstone keeps its FIRST-APPLIED id through the " +
    "tswept reader-grace window: recording the sweep id instead would " +
    "inflate tb_applied and the still-anti-joined dir would eat a " +
    "legitimately re-ingested vec_id living in its old cell") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann19").toString
    val idx = s"$t/idx"
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (base + 0.01 * math.sin(i * 31 + d * 7)).toFloat))
    }.toDF("vec_id", "embedding")
    AnnIngest.ingestBatch(vecs(0 until 300), 0L, idx, nCells = 16)
    AnnIngest.ingestBatch(cluster(300 until 340, -5.0), 1L, idx,
      nCells = 16)
    AnnIngest.compact(spark, idx, 1L)
    AnnIngest.compact(spark, idx, 2L, splitHot = 2.0) // t_split_2, applied 3
    assert(IngestIndex.readManifest(spark, idx)
      .runs("tombs").map(_.name).contains("t_split_2"))
    val mover = spark.read.parquet(s"$idx/tombs/t_split_2")
      .select("vec_id", "cell").head()
    val (vid, oldCell) = (mover.getLong(0), mover.getInt(1))
    // re-ingest the mover back into its old (tombstoned) cell — the
    // source scope (src_id >= applied-at 3) is what keeps it live
    val eNew = AnnIngest.readCentroids(spark, idx).get(oldCell)
      .map(_.toFloat)
    AnnIngest.ingestBatch(Seq((vid, eNew)).toDF("vec_id", "embedding"),
      3L, idx, nCells = 16)
    AnnIngest.compact(spark, idx, 3L)
    def vidInOldCell() = AnnIngest.readIndex(spark, idx, None)
      .filter(col("vec_id") === vid && col("cell") === oldCell).count()
    assert(vidInOldCell() === 1L, "drill setup: re-ingest visible")
    // age the pre-application runs out by feeding SAME-SIZE-CLASS
    // batches (far cluster — irrelevant cells): each merge rewrites a
    // pre-split run under the current compaction id, until every live
    // run postdates the tombstone's application and it can sweep
    def runRows() = IngestIndex.readManifest(spark, idx).runs("vectors")
    Seq(4L, 5L).foreach { b =>
      val oldest = runRows().filter(r =>
        "run_(\\d+)_".r.findFirstMatchIn(r.name)
          .exists(_.group(1).toLong < 3L))
      if (oldest.nonEmpty) {
        val sz = oldest.maxBy(_.rows).rows.toInt
        AnnIngest.ingestBatch(
          cluster(10000 + b.toInt * 1000 until
            10000 + b.toInt * 1000 + sz, 9.0), b, idx, nCells = 16)
      }
      AnnIngest.compact(spark, idx, b)
    }
    assert(runRows().forall(r => "run_(\\d+)_".r.findFirstMatchIn(r.name)
      .exists(_.group(1).toLong >= 3L)), "drill setup: all runs aged past 3")
    AnnIngest.compact(spark, idx, 6L) // the sweep cycle
    val m6 = IngestIndex.readManifest(spark, idx)
    val swept = m6.runs.getOrElse("tswept", Nil).find(_.name == "t_split_2")
    assert(swept.isDefined, "drill setup: tombstone logically swept")
    assert(swept.get.rows === 3L,
      "the tswept record must keep the FIRST-APPLIED id, not the sweep id")
    // the dir is still on disk for one reader generation — and the
    // re-ingested row must stay visible THROUGH that window
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/tombs/t_split_2")))
    assert(vidInOldCell() === 1L,
      "re-ingest must survive the tswept reader-grace window")
    AnnIngest.compact(spark, idx, 7L) // physical deletion
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/tombs/t_split_2")))
    assert(vidInOldCell() === 1L)
  }

  test("an ORPHAN split tombstone (crash between its write and the " +
    "manifest publish) is inert: readers ignore it — honoring it would " +
    "hide movers whose relocated copies were never committed — and the " +
    "next compaction collects the dir; the split_ tag namespace is " +
    "reserved") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann17").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 20), 0L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 0L)
    // forge the crash state: a cell-scoped split tombstone dir with NO
    // manifest record, targeting a live row's current cell
    val victim = AnnIngest.readIndex(spark, idx, None)
      .select("vec_id", "cell").head()
    Seq((victim.getLong(0), victim.getInt(1))).toDF("vec_id", "cell")
      .write.parquet(s"$idx/tombs/t_split_99")
    // readers ignore it — the row stays live (manifest-gated)
    assert(AnnIngest.tombDirs(spark, idx).isEmpty)
    assert(AnnIngest.readIndex(spark, idx, None).count() === 20L)
    // ...while a TAKEDOWN tombstone dir is honored the moment it
    // exists, committed or not (the user asked for the exclusion)
    AnnIngest.delete(spark, idx,
      Seq(victim.getLong(0)).toDF("vec_id"), "realcase")
    assert(AnnIngest.readIndex(spark, idx, None).count() === 19L)
    // the next compaction collects the orphan dir (it never applies it)
    AnnIngest.ingestBatch(vecs(20 until 25), 1L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 1L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/tombs/t_split_99")),
      "orphan split dir must be collected")
    assert(AnnIngest.readIndex(spark, idx, None).count() === 24L)
    // user tags cannot enter the reserved (manifest-gated) namespace
    assert(intercept[IllegalArgumentException] {
      AnnIngest.delete(spark, idx, Seq(1L).toDF("vec_id"), "split_x")
    }.getMessage.contains("reserved"))
  }

  test("f32 at-rest codec: deltas AND compacted runs store " +
    "array<float>, every read decodes to array<double>, float-born " +
    "inputs query bit-identically to f64 storage, and a MIXED-codec " +
    "index stays correct through compaction") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    def elemType(dir: String) = spark.read.parquet(dir)
      .schema("e").dataType.asInstanceOf[ArrayType].elementType
    val t = java.nio.file.Files.createTempDirectory("graft_annc").toString
    val f32 = s"$t/f32"; val f64 = s"$t/f64"
    spark.conf.set(AnnIngest.VectorCodecKey, "f32")
    try {
      AnnIngest.ingestBatch(vecs(0 until 30), 0L, f32, nCells = 4)
      AnnIngest.ingestBatch(vecs(30 until 60), 1L, f32, nCells = 4)
      assert(elemType(s"$f32/vectors/batch=0") === FloatType,
        "delta writes must store the f32 codec")
      AnnIngest.compact(spark, f32, 1L)
      val runDir = new java.io.File(s"$f32/vectors").listFiles()
        .map(_.getName).filter(_.startsWith("run_")).sorted.head
      assert(elemType(s"$f32/vectors/$runDir") === FloatType,
        "compacted runs must keep the f32 codec")
      assert(AnnIngest.readIndex(spark, f32, None)
        .schema("e").dataType.asInstanceOf[ArrayType]
        .elementType === DoubleType,
        "reads must decode to double regardless of the at-rest codec")
    } finally spark.conf.unset(AnnIngest.VectorCodecKey)
    // f64 dual over the same corpus (deterministic quantizer → same
    // cells): float-born embeddings make the f32 round-trip exact, so
    // the two indexes must answer bit-identically
    AnnIngest.ingestBatch(vecs(0 until 30), 0L, f64, nCells = 4)
    AnnIngest.ingestBatch(vecs(30 until 60), 1L, f64, nCells = 4)
    AnnIngest.compact(spark, f64, 1L)
    def top(dir: String) = AnnIngest.queryTopK(spark, dir,
      vecs(0 until 10), k = 3, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    assert(top(f32) === top(f64))
    // mixed codec: a later f64-session batch lands in the f32 index
    // and the next compaction merges across codecs without drama
    AnnIngest.ingestBatch(vecs(60 until 80), 2L, f32, nCells = 4)
    assert(elemType(s"$f32/vectors/batch=2") === DoubleType)
    AnnIngest.compact(spark, f32, 2L)
    val all = AnnIngest.readIndex(spark, f32, None)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all === (0L until 80L))
    // a bad codec value fails loudly at write time
    spark.conf.set(AnnIngest.VectorCodecKey, "f16")
    try intercept[IllegalArgumentException] {
      AnnIngest.ingestBatch(vecs(80 until 90), 3L, f32, nCells = 4)
    } finally spark.conf.unset(AnnIngest.VectorCodecKey)
  }

  test("write lease: a held lease makes ingest/compact/delete fail " +
    "loudly with the index untouched; the lease releases after each op") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann14").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 10), 0L, idx, nCells = 4)
    val lease = java.nio.file.Paths.get(idx, "_writer.lease")
    assert(!java.nio.file.Files.exists(lease), "released after ingest")
    java.nio.file.Files.writeString(lease, """{"owner": "pid1@other"}""")
    val before = AnnIngest.readIndex(spark, idx, None).count()
    assert(intercept[IllegalStateException] {
      AnnIngest.ingestBatch(vecs(10 until 20), 1L, idx, nCells = 4)
    }.getMessage.contains("another writer"))
    assert(intercept[IllegalStateException] {
      AnnIngest.compact(spark, idx, 0L)
    }.getMessage.contains("another writer"))
    assert(intercept[IllegalStateException] {
      AnnIngest.delete(spark, idx, Seq(1L).toDF("vec_id"), "blocked")
    }.getMessage.contains("another writer"))
    assert(AnnIngest.readIndex(spark, idx, None).count() === before)
    assert(AnnIngest.tombDirs(spark, idx).isEmpty)
    java.nio.file.Files.delete(lease)
    AnnIngest.compact(spark, idx, 0L) // released -> proceeds
    assert(graft.streaming.IngestIndex.readManifest(spark, idx)
      .maxCompacted === 0L)
  }

  test("lost centroids file with existing deltas fails fast instead of " +
    "retraining an inconsistent quantizer") {
    val t = java.nio.file.Files.createTempDirectory("graft_ann6").toString
    AnnIngest.ingestBatch(vecs(0 until 20), 0L, s"$t/idx", nCells = 4)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$t/idx/centroids.json"))
    val ex = intercept[IllegalStateException] {
      AnnIngest.ingestBatch(vecs(20 until 40), 1L, s"$t/idx", nCells = 4)
    }
    assert(ex.getMessage.contains("centroids"))
  }

  test("restart without a checkpoint over a non-empty index is refused; " +
    "with a checkpoint the stream resumes and indexes only new batches") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t = java.nio.file.Files.createTempDirectory("graft_ann5").toString
    def stream(ms: MemoryStream[(Long, Seq[Double])]) =
      ms.toDF().toDF("vec_id", "embedding")
    val ms1 = MemoryStream[(Long, Seq[Double])]
    val q1 = AnnIngest.annIngestStream(stream(ms1), s"$t/idx",
      checkpoint = Some(s"$t/ckpt"), nCells = 2)
    ms1.addData((1 to 20).map(i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7)))))
    q1.processAllAvailable(); q1.stop()
    // no checkpoint + existing state → refused
    val ms2 = MemoryStream[(Long, Seq[Double])]
    val ex = intercept[IllegalStateException] {
      AnnIngest.annIngestStream(stream(ms2), s"$t/idx", nCells = 2)
    }
    assert(ex.getMessage.contains("previous run"))
    // checkpointed resume: only the new batch lands, nothing re-ingested
    val q2 = AnnIngest.annIngestStream(stream(ms1), s"$t/idx",
      checkpoint = Some(s"$t/ckpt"), nCells = 2)
    ms1.addData((21 to 30).map(i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7)))))
    q2.processAllAvailable(); q2.stop()
    val ids = AnnIngest.readIndex(spark, s"$t/idx", None)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (1L to 30L))
  }

  test("a cell dir that is not a cell id (a null-key partition, " +
    "cell=__HIVE_DEFAULT_PARTITION__) is skipped by the occupancy " +
    "footer walk: compaction completes and every live id stays " +
    "indexed exactly once") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_annh").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 40), 0L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 0L)
    // a zero-row null-key partition inside the live run
    Seq.empty[(Long, Seq[Double], Double)].toDF("vec_id", "e", "norm")
      .write.parquet(s"$idx/vectors/run_0_0/cell=__HIVE_DEFAULT_PARTITION__")
    // a 5-row fold lands in a smaller size class: run_0_0 stays live and
    // the skew report walks its cell dirs
    AnnIngest.ingestBatch(vecs(40 until 45), 1L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 1L)
    val m = IngestIndex.readManifest(spark, idx)
    assert(m.maxCompacted === 1L)
    assert(m.runs("vectors").map(_.name).contains("run_0_0"))
    val ids = AnnIngest.readIndex(spark, idx, None)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 45L))
  }

  /** Run `body` and return (jobs it launched, the (name, details) of
    * every stage of those jobs). */
  private def jobsOf(body: => Unit): (Int, Seq[(String, String)]) = {
    val jobs = org.apache.spark.TestBus.jobsOf(spark.sparkContext)(body)._2
    (jobs.size, jobs.flatten.map(si => (si.name, si.details)))
  }

  test("job budget: over 2 runs, 2 deltas and a takedown tombstone, " +
    "queryTopK and compact launch no per-dir schema-inference job, the " +
    "first query after the tombstone change launches at most 2 jobs and " +
    "the next exactly 1, and a non-deterministic query frame is " +
    "evaluated once (every returned id has its full rank list)") {
    // the budget above is the distributed path's; the held path then
    // answers the same query with at most 2 jobs and the next none
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_annj").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 40), 0L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 0L)
    AnnIngest.ingestBatch(vecs(40 until 50), 1L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 1L)
    AnnIngest.ingestBatch(vecs(50 until 60), 2L, idx, nCells = 4)
    AnnIngest.ingestBatch(vecs(60 until 70), 3L, idx, nCells = 4)
    val deleted = Set(3L, 55L)
    AnnIngest.delete(spark, idx, deleted.toSeq.toDF("vec_id"), "gone")
    val (runs, deltas) = AnnIngest.live(spark, idx, Long.MaxValue)
    assert(runs.length === 2 && deltas.length === 2)
    assert(AnnIngest.tombDirs(spark, idx).length === 1)
    // a write from the driver's own rows names its stage after its
    // `parquet` call too; only a read infers a schema
    def inferred(stages: Seq[(String, String)]) = stages.filter {
      case (name, details) =>
        (name + details).contains("parquet at AnnIngest") &&
          !details.startsWith("org.apache.spark.sql.DataFrameWriter")
    }.map(_._1)

    val k = 3
    import org.apache.spark.sql.Row
    def budget(heldMax: Long, first: Int, steady: Int): Seq[Row] = {
      val path = if (heldMax == 0L) "distributed" else "held"
      def query() = AnnIngest.queryTopKWith(spark, idx, vecs(0 until 70),
        k, 2, heldMax).collect()
      var rows = Array.empty[Row]
      val (qJobs, qStages) = jobsOf { rows = query() }
      assert(inferred(qStages).isEmpty, inferred(qStages).mkString("\n"))
      assert(qJobs <= first, s"$path queryTopK launched $qJobs jobs: " +
        qStages.map(_._1).mkString(", "))
      assert(rows.map(_.getLong(0)).distinct.length === 70)
      var again = Array.empty[Row]
      val (steadyJobs, steadyStages) = jobsOf { again = query() }
      assert(steadyJobs === steady, s"steady $path queryTopK launched " +
        s"$steadyJobs jobs: " + steadyStages.map(_._1).mkString(", "))
      assert(again.toSeq === rows.toSeq)
      rows.toSeq
    }
    assert(budget(0L, 2, 1) === budget(AnnIngest.HeldMaxValues, 2, 0))

    // a frame whose row set changes per evaluation: every id the query
    // returns must come with ranks 1..k, and a live indexed id must be
    // its own top-1 — its probes and its vector are one evaluation
    def consistent(frame: org.apache.spark.sql.DataFrame): Unit = {
      val byId = AnnIngest.queryTopK(spark, idx, frame, k = k, nProbe = 4)
        .collect().groupBy(_.getLong(0))
      assert(byId.nonEmpty)
      byId.foreach { case (id, rs) =>
        assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to k), s"id $id")
        if (!deleted(id))
          assert(rs.find(_.getInt(1) == 1).map(_.getLong(2)) === Some(id),
            s"id $id is not its own top-1")
      }
    }
    consistent(vecs(0 until 70).repartition(4).sample(0.5))
    consistent(vecs(0 until 70).repartition(4).limit(20))

    // a held index compacts from the driver with no job; a distributed
    // query leaves the index unheld, so this compaction reads and writes
    // distributed and the stage check below has stages to see
    AnnIngest.queryTopKWith(spark, idx, vecs(0 until 5), k, 2, 0L).collect()
    val (cJobs, cStages) = jobsOf(AnnIngest.compact(spark, idx, 3L))
    assert(inferred(cStages).isEmpty, inferred(cStages).mkString("\n"))
    assert(cJobs > 0)
    val live = AnnIngest.readIndex(spark, idx, None)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(live === (0L until 70L).filterNot(deleted))
  }

  test("a query probing a cell set no earlier query probed compiles no " +
    "new code: the cell filter's values are not inlined into generated " +
    "classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val t = java.nio.file.Files.createTempDirectory("graft_anncg").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 30), 0L, idx, nCells = 4)
    AnnIngest.ingestBatch(vecs(30 until 60), 1L, idx, nCells = 4)
    // one indexed vector per cell: a one-vector self query with
    // nProbe = 1 probes exactly that vector's cell
    val byCell = AnnIngest.readIndex(spark, idx, None)
      .select("cell", "vec_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap.toSeq.sortBy(_._1)
    assert(byCell.length >= 3, s"cells populated: $byCell")
    def query(id: Long): Unit = {
      val rows = AnnIngest.queryTopK(spark, idx, vecs(id.toInt to id.toInt),
        k = 3, nProbe = 1).collect()
      assert(rows.find(_.getInt(1) == 1).map(_.getLong(2)) === Some(id))
    }
    query(byCell(0)._2)
    query(byCell(1)._2)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    query(byCell(2)._2)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before)
  }

  /** Live index rows (nb_id, eb, nb, cell), derived without the engine's
    * exclusion code: every live run and delta read directly, tombstone
    * scopes applied in plain Scala (cell scope when named, source scope
    * from tb_bound or, for split tombstones, the manifest ledger). */
  private def liveByHand(idx: String): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    val m = IngestIndex.readManifest(spark, idx)
    val ledger = (m.runs.getOrElse("tombs", Nil) ++
      m.runs.getOrElse("tswept", Nil)).map(r => r.name -> r.rows).toMap
    val tombs = AnnIngest.tombDirs(spark, idx).flatMap { d =>
      val name = d.split("/").last
      val df = spark.read.parquet(d)
      def opt[T](r: org.apache.spark.sql.Row, c: String): Option[T] =
        if (df.columns.contains(c) && !r.isNullAt(r.fieldIndex(c)))
          Some(r.getAs[T](c)) else None
      df.collect().toSeq.map { r =>
        (r.getAs[Long]("vec_id"), opt[Int](r, "cell"),
          if (name.startsWith("t_split_")) ledger.get(name)
          else opt[Long](r, "tb_bound"))
      }
    }
    val (runs, deltas) = AnnIngest.live(spark, idx, Long.MaxValue)
    (runs ++ deltas).flatMap { d =>
      val src = IngestIndex.srcIdOf(d)
      spark.read.parquet(d).select("vec_id", "e", "norm", "cell")
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1),
          r.getDouble(2), r.getInt(3), src))
    }.filterNot { case (id, _, _, cell, src) =>
      tombs.exists { case (tid, tc, ta) =>
        tid == id && tc.forall(_ == cell) && ta.forall(src < _)
      }
    }.map { case (id, e, n, cell, _) => (id, e, n, cell) }
      .toDF("nb_id", "eb", "nb", "cell")
  }

  /** The query formulation before the one-job rewrite, kept as the
    * reference: probes broadcast into a join on cell, the `when` cosine,
    * a TopKAgg groupBy and posexplode — over `liveRows` of the index,
    * [[liveByHand]] unless given. */
  private def referenceTopK(idx: String,
      queries: org.apache.spark.sql.DataFrame, k: Int,
      nProbe: Int,
      liveRows: String => org.apache.spark.sql.DataFrame = liveByHand)
      : Seq[(Long, Int, Long, Double)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.expr.DotProduct.dot
    val cents = AnnIngest.readCentroids(spark, idx).get
    val probes = graft.sim.Similarity.prep(queries)
      .select(col("vec_id").cast("long"), col("e"), col("norm"))
      .collect().toSeq.flatMap { r =>
        val e = r.getSeq[Double](1).toArray
        graft.sim.Ivf.probeCells(cents, e, nProbe)
          .map(c => Row(r.getLong(0), c, e.toSeq, r.getDouble(2)))
      }
    val q = spark.createDataFrame(probes.asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("cell", IntegerType),
      StructField("ea", ArrayType(DoubleType)),
      StructField("na", DoubleType))))
    val cos = when(col("na") * col("nb") > lit(0.0),
      dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .otherwise(lit(0.0))
    broadcast(q).join(liveRows(idx), Seq("cell"))
      .withColumn("cos", cos)
      .groupBy("vec_id")
      .agg(graft.agg.TopKAgg.topK(k)(col("cos"), col("nb_id")).as("nn"))
      .select(col("vec_id"), posexplode(col("nn")).as(Seq("p", "nb")))
      .select(col("vec_id"), (col("p") + 1).cast("int").as("rank"),
        col("nb._2").as("nb_id"), round(col("nb._1"), 6).as("cos_r"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted
  }

  /** Live index rows (nb_id, eb, nb, cell) by the shuffled anti-join
    * form of the tombstone rule, without the engine's held set: every
    * live run and delta read with its source id, every live tombstone
    * dir read with its scopes (a column a dir lacks reads NULL; a split
    * tombstone's applied-at id comes from the manifest ledger), and one
    * left-anti join on vec_id whose extra condition is the scope rule. */
  private def liveByAntiJoin(idx: String): org.apache.spark.sql.DataFrame = {
    val m = IngestIndex.readManifest(spark, idx)
    val ledger = (m.runs.getOrElse("tombs", Nil) ++
      m.runs.getOrElse("tswept", Nil)).map(r => r.name -> r.rows).toMap
    val (runs, deltas) = AnnIngest.live(spark, idx, Long.MaxValue)
    val rows = (runs ++ deltas).map { d =>
      spark.read.parquet(d).select(col("vec_id"),
        col("e").cast("array<double>"), col("norm"), col("cell"),
        lit(IngestIndex.srcIdOf(d)).as("src_id"))
    }.reduce(_ union _)
    val tombs = AnnIngest.tombDirs(spark, idx).map { d =>
      val name = d.split("/").last
      val t = spark.read.parquet(d)
      def opt(c: String, tpe: String) =
        if (t.columns.contains(c)) col(c) else lit(null).cast(tpe)
      t.select(col("vec_id").as("t_id"), opt("cell", "int").as("t_cell"),
        (if (name.startsWith("t_split_")) lit(ledger(name))
         else opt("tb_bound", "long")).as("t_applied"))
    }.reduce(_ union _)
    rows.join(tombs, rows("vec_id") === tombs("t_id") &&
        (tombs("t_cell").isNull || tombs("t_cell") === rows("cell")) &&
        (tombs("t_applied").isNull || rows("src_id") < tombs("t_applied")),
        "left_anti")
      .select(col("vec_id").as("nb_id"), col("e").as("eb"),
        col("norm").as("nb"), col("cell"))
  }

  private def topK(idx: String, queries: org.apache.spark.sql.DataFrame,
      k: Int, nProbe: Int): Seq[(Long, Int, Long, Double)] =
    AnnIngest.queryTopK(spark, idx, queries, k = k, nProbe = nProbe)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted

  /** [[topK]] on the distributed path: a held cap of 0 values. */
  private def distTopK(idx: String, queries: org.apache.spark.sql.DataFrame,
      k: Int, nProbe: Int): Seq[(Long, Int, Long, Double)] =
    AnnIngest.queryTopKWith(spark, idx, queries, k, nProbe, 0L)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted

  private def sameBits(a: Seq[(Long, Int, Long, Double)],
      b: Seq[(Long, Int, Long, Double)]): Boolean =
    a.map(x => x.copy(_4 = java.lang.Double.doubleToLongBits(x._4))) ===
      b.map(x => x.copy(_4 = java.lang.Double.doubleToLongBits(x._4)))

  test("queryTopK returns the rows of the broadcast-join + TopKAgg " +
    "formulation bit for bit, over runs, deltas, a live takedown and a " +
    "committed split tombstone, with equal-cos ties and a zero vector, " +
    "at nProbe 2 and at nProbe = every cell") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_anneq").toString
    val idx = s"$t/idx"
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (base + 0.01 * math.sin(i * 31 + d * 7)).toFloat))
    }.toDF("vec_id", "embedding")
    AnnIngest.ingestBatch(vecs(0 until 300), 0L, idx, nCells = 16)
    AnnIngest.ingestBatch(cluster(300 until 340, -5.0), 1L, idx,
      nCells = 16)
    AnnIngest.compact(spark, idx, 1L)
    AnnIngest.compact(spark, idx, 2L, splitHot = 2.0)
    val m = IngestIndex.readManifest(spark, idx)
    assert(m.runs("tombs").map(_.name).contains("t_split_2"))
    // deltas: exact copies of indexed vectors under new ids (equal-cos
    // ties, broken by id) and a zero vector
    val copies = vecs(0 until 6).select((col("vec_id") + 500).as("vec_id"),
      col("embedding"))
    val zero = Seq((600L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    AnnIngest.ingestBatch(copies.union(zero), 3L, idx, nCells = 16)
    AnnIngest.ingestBatch(cluster(340 until 350, -5.1), 4L, idx,
      nCells = 16)
    AnnIngest.delete(spark, idx, Seq(7L, 301L, 503L).toDF("vec_id"), "gone")
    val (runs, deltas) = AnnIngest.live(spark, idx, Long.MaxValue)
    assert(runs.length >= 2 && deltas.length === 2)
    assert(AnnIngest.tombDirs(spark, idx).map(_.split("/").last).toSet ===
      Set("t_gone", "t_split_2"))
    val nCells = AnnIngest.readCentroids(spark, idx).get.length
    val queries = vecs(0 until 40).union(cluster(300 until 320, -5.0))
      .union(copies).union(zero)
    for (nProbe <- Seq(2, nCells); k <- Seq(3, 10)) {
      val got = topK(idx, queries, k, nProbe)
      val want = referenceTopK(idx, queries, k, nProbe)
      assert(got.nonEmpty)
      assert(sameBits(got, want), s"nProbe $nProbe k $k: " +
        got.diff(want).take(5) + " vs " + want.diff(got).take(5))
    }
    // the ties and the zero vector are exercised: id 0's two copies
    // rank by id at cos 1.0, and the zero query scores 0 everywhere
    val all = topK(idx, queries, 3, nCells)
    assert(all.filter(_._1 == 0L).take(2).map(x => (x._3, x._4)) ===
      Seq((0L, 1.0), (500L, 1.0)))
    assert(all.filter(_._1 == 600L).map(_._4).toSet === Set(0.0))
    assert(!all.exists(x => Set(7L, 301L, 503L)(x._3)))
  }

  test("a tombstone set above TombBroadcastMax rows takes the shuffled " +
    "anti-join and excludes exactly the tombstoned rows") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_annbig").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 40), 0L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 0L)
    AnnIngest.ingestBatch(vecs(40 until 60), 1L, idx, nCells = 4)
    // two live ids among ids no row carries, past the cap
    val ids = Seq(5L, 45L) ++ (1000L to 1000L + IngestIndex.TombBroadcastMax)
    AnnIngest.delete(spark, idx, ids.toDF("vec_id"), "bulk")
    val read = AnnIngest.readIndex(spark, idx, None)
    assert(read.queryExecution.executedPlan.toString.contains("LeftAnti"))
    assert(read.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 60L).filterNot(Set(5L, 45L)))
    val q = vecs(0 until 60)
    assert(sameBits(topK(idx, q, 5, 4), referenceTopK(idx, q, 5, 4)))
  }

  test("the held tombstone set follows the tombstone state: the query " +
    "after a new delete, after a same-tag overwrite with more ids within " +
    "one second, and after a compaction's apply and sweep each sees the " +
    "current set, and a query after no change to the set reuses it") {
    // checked on both query paths: the distributed one, then the held one
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_anntc").toString
    val idx = s"$t/idx"
    // 32 + 32 rows: the first fold lands in the base run's size class,
    // so compaction 1 merges both and rewrites every run clean
    AnnIngest.ingestBatch(vecs(0 until 32), 0L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 0L)
    AnnIngest.ingestBatch(vecs(32 until 64), 1L, idx, nCells = 4)
    // every cell probed and k above the corpus: the neighbor ids of the
    // answer are exactly the live ids
    val q = vecs(0 until 70)
    var ingested = 64L
    // `jobs` counts the distributed path's: the set's collect, if any,
    // and the scan; the held path then answers from the same held set.
    // A delete under a new tag holds the set it makes, and a compaction
    // that deletes no swept dir holds the set under its new ledger, so
    // only the scan follows either
    def check(jobs: Int, gone: Set[Long], step: String): Unit = {
      var got = Seq.empty[(Long, Int, Long, Double)]
      val (n, stages) = jobsOf { got = distTopK(idx, q, 70, 4) }
      assert(n === jobs, s"$step: $n jobs " + stages.map(_._1).mkString(", "))
      assert(sameBits(got, referenceTopK(idx, q, 70, 4)), step)
      assert(got.map(_._3).toSet === (0L until ingested).toSet -- gone, step)
      assert(sameBits(topK(idx, q, 70, 4), got), s"$step: held path")
    }
    check(1, Set.empty, "no tombstone")
    AnnIngest.delete(spark, idx, Seq(3L).toDF("vec_id"), "a")
    check(1, Set(3L), "new delete")
    check(1, Set(3L), "unchanged set")
    // overwrite the same tag with more ids, then pin the dir's mtime to
    // the first write's: only the file sizes tell the two sets apart,
    // as on a filesystem with 1-second mtimes
    val dir = new java.io.File(s"$idx/tombs/t_a")
    val mtime = dir.lastModified()
    AnnIngest.delete(spark, idx, Seq(3L, 4L, 5L).toDF("vec_id"), "a")
    assert(dir.setLastModified(mtime))
    check(2, Set(3L, 4L, 5L), "same-tag overwrite")
    AnnIngest.compact(spark, idx, 1L) // applies t_a: the ledger changes
    assert(IngestIndex.readManifest(spark, idx).runs("tombs")
      .map(_.name) === Seq("t_a"))
    check(1, Set(3L, 4L, 5L), "apply")
    AnnIngest.ingestBatch(vecs(64 until 70), 2L, idx, nCells = 4)
    ingested = 70L
    AnnIngest.compact(spark, idx, 2L) // logical sweep: tombs -> tswept
    assert(IngestIndex.readManifest(spark, idx).runs("tswept")
      .map(_.name) === Seq("t_a"))
    // the same dirs with the same applied-at ids: the held set is
    // still the current one
    check(1, Set(3L, 4L, 5L), "sweep")
    AnnIngest.compact(spark, idx, 3L) // physical sweep: the dir goes
    assert(!dir.exists())
    check(1, Set(3L, 4L, 5L), "swept")
  }

  test("the held tombstone set excludes exactly the rows of the anti-join " +
    "form: readIndex, queryTopK and a compaction's output over a source-" +
    "scoped takedown re-ingested after the delete, a committed split " +
    "tombstone, a legacy takedown without tb_bound and a null id among the " +
    "tombstoned ids") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_annheld").toString
    val idx = s"$t/idx"
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (base + 0.01 * math.sin(i * 31 + d * 7)).toFloat))
    }.toDF("vec_id", "embedding")
    AnnIngest.ingestBatch(vecs(0 until 300), 0L, idx, nCells = 16)
    AnnIngest.ingestBatch(cluster(300 until 340, -5.0), 1L, idx, nCells = 16)
    AnnIngest.compact(spark, idx, 1L)
    AnnIngest.compact(spark, idx, 2L, splitHot = 2.0)
    assert(IngestIndex.readManifest(spark, idx).runs("tombs").map(_.name)
      .contains("t_split_2"))
    // a source-scoped takedown (with a null id among its ids), then id 5
    // re-ingested with new content: only the old copy is excluded
    AnnIngest.delete(spark, idx,
      Seq(Some(5L), Some(12L), Some(301L), None).toDF("vec_id"), "gone")
    val fresh = Seq((5L, Array.tabulate(8)(d => (0.5 - 0.1 * d).toFloat)))
      .toDF("vec_id", "embedding")
    AnnIngest.ingestBatch(fresh.union(cluster(400 until 410, 3.0)), 3L, idx,
      nCells = 16)
    // a legacy takedown: vec_id alone, no tb_bound — every source
    Seq(20L, 405L).toDF("vec_id").write.parquet(s"$idx/tombs/t_legacy")
    assert(AnnIngest.tombDirs(spark, idx).map(_.split("/").last).toSet ===
      Set("t_gone", "t_legacy", "t_split_2"))

    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1),
        r.getDouble(2), r.getInt(3))).sortBy(_.toString)
    def read() = AnnIngest.readIndex(spark, idx, None)
      .select("vec_id", "e", "norm", "cell")
    assert(read().queryExecution.executedPlan.toString
      .contains(AnnIngest.TombFreeUdf), "the held form is applied")
    val want = rowsOf(liveByAntiJoin(idx))
    assert(rowsOf(read()) === want)
    val ids = want.map(_._1)
    assert(ids.count(_ == 5L) === 1, "the re-ingested 5 stays")
    assert(!ids.exists(Set(12L, 20L, 301L, 405L)))

    // query rows as given: a null embedding is dropped, a null element
    // reads 0.0, exactly as Similarity.prep derives them
    val odd = spark.createDataFrame(java.util.List.of(
        Row(900L, null),
        Row(901L, Seq[java.lang.Float](0.5f, null, -0.25f, 0.1f, 0f, 0.3f,
          null, 0.7f))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val queries = vecs(0 until 30).union(cluster(300 until 310, -5.0))
      .union(fresh).union(cluster(400 until 410, 3.0)).union(odd)
    for ((k, nProbe) <- Seq((3, 2), (10, 16))) {
      val got = topK(idx, queries, k, nProbe)
      val ref = referenceTopK(idx, queries, k, nProbe, liveByAntiJoin)
      assert(got.nonEmpty && !got.exists(_._1 == 900L) &&
        got.exists(_._1 == 901L))
      assert(sameBits(got, ref), s"k $k nProbe $nProbe: " +
        got.diff(ref).take(5) + " vs " + ref.diff(got).take(5))
    }

    // a compaction writes only rows the anti-join keeps, and leaves the
    // live set as it was
    val before = AnnIngest.live(spark, idx, Long.MaxValue)._1.toSet
    AnnIngest.compact(spark, idx, 3L)
    val written = AnnIngest.live(spark, idx, Long.MaxValue)._1
      .filterNot(before)
    assert(written.nonEmpty)
    val physical = rowsOf(written.map(d => spark.read.parquet(d)
      .select(col("vec_id"), col("e").cast("array<double>"), col("norm"),
        col("cell"))).reduce(_ union _))
    assert(physical.diff(want).isEmpty, physical.diff(want).take(3))
    assert(rowsOf(read()) === want)
  }

  test("a null vec_id row is dropped at ingest: its batch commits, and " +
    "neither readIndex nor queryTopK returns it") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t = java.nio.file.Files.createTempDirectory("graft_ann_nullid")
      .toString
    val idx = s"$t/idx"
    val emb = Array.tabulate(8)(d => math.cos(d * 3.0).toFloat).toSeq
    val nullId = spark.createDataFrame(
      java.util.List.of(Row(null, emb)),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    AnnIngest.ingestBatch(vecs(0 until 20).union(nullId), 0L, idx,
      nCells = 4)
    def ids() = AnnIngest.readIndex(spark, idx, None).select("vec_id")
      .collect().map(r => Option.when(!r.isNullAt(0))(r.getLong(0))).toSeq
    assert(!ids().contains(None) && ids().flatten.sorted === (0L until 20L))
    // the null row's own vector as a query, probing every cell, returns
    // the 20 live rows and nothing else
    val s = spark
    import s.implicits._
    val q = Seq((999L, emb.toArray)).toDF("vec_id", "embedding")
    val nbs = AnnIngest.queryTopK(spark, idx, q, k = 25, nProbe = 4)
      .collect()
    assert(!nbs.exists(_.isNullAt(2)))
    assert(nbs.map(_.getLong(2)).sorted.toSeq === (0L until 20L))
    AnnIngest.compact(spark, idx, 0L)
    assert(!ids().contains(None) && ids().flatten.sorted === (0L until 20L))
  }

  test("a hand-written manifest in today's key layout compacts: the " +
    "tombs record keeps its first-applied id into tswept, and the swept " +
    "dir is deleted a generation later") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ann_mf").toString
    val idx = s"$t/idx"
    val mf = java.nio.file.Paths.get(s"$idx/manifest.json")
    def text = java.nio.file.Files.readString(mf)
    AnnIngest.ingestBatch(vecs(0 until 20), 0L, idx, nCells = 4)
    AnnIngest.delete(spark, idx, Seq(3L).toDF("vec_id"), "old")
    AnnIngest.compact(spark, idx, 0L)
    val hand = "{\"maxCompacted\": 0, \"runs\": {" +
      "\"tombs\": [{\"name\": \"t_old\", \"rows\": 0}], " +
      "\"vectors\": [{\"name\": \"run_0_0\", \"rows\": 19}]}}"
    assert(text === hand)
    // written through the Hadoop FS, so its checksum stays valid
    val p = new org.apache.hadoop.fs.Path(mf.toString)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(hand.getBytes("UTF-8")) finally out.close()
    def ids() = AnnIngest.readIndex(spark, idx, None).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // the 20-row fold lands in the 19-row run's size class and merges
    AnnIngest.ingestBatch(vecs(20 until 40), 1L, idx, nCells = 4)
    AnnIngest.compact(spark, idx, 1L)
    assert(text === "{\"maxCompacted\": 1, \"runs\": {" +
      "\"tswept\": [{\"name\": \"t_old\", \"rows\": 0}], " +
      "\"vectors\": [{\"name\": \"run_1_1\", \"rows\": 39}]}}")
    assert(ids() === (0L until 40L).filterNot(_ == 3L))
    AnnIngest.compact(spark, idx, 2L)
    assert(AnnIngest.tombDirs(spark, idx).isEmpty)
    assert(text === "{\"maxCompacted\": 2, \"runs\": {" +
      "\"vectors\": [{\"name\": \"run_1_1\", \"rows\": 39}]}}")
    AnnIngest.ingestBatch(vecs(3 until 4), 3L, idx, nCells = 4)
    assert(ids() === (0L until 40L))
  }

  test("the held and the distributed query paths return the same bits " +
    "over a split and a fold heal, a source-scoped takedown with a " +
    "re-ingested id, an f32 delta, and null elements in an indexed row " +
    "and in a query") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_annhd").toString
    val idx = s"$t/idx"
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (base + 0.01 * math.sin(i * 31 + d * 7)).toFloat))
    }.toDF("vec_id", "embedding")
    // split the hot far cluster, then drain it and fold its sub-cells
    AnnIngest.ingestBatch(vecs(0 until 300), 0L, idx, nCells = 16)
    AnnIngest.ingestBatch(cluster(300 until 340, -5.0), 1L, idx, nCells = 16)
    AnnIngest.compact(spark, idx, 1L)
    AnnIngest.compact(spark, idx, 2L, splitHot = 2.0)
    AnnIngest.delete(spark, idx, (300L until 332L).toDF("vec_id"), "drain")
    AnnIngest.compact(spark, idx, 3L, foldColdBelow = 0.5)
    val healed = IngestIndex.readManifest(spark, idx).runs("tombs")
      .map(_.name)
    assert(healed.contains("t_split_2") && healed.contains("t_split_f3"),
      healed)
    // a takedown, then id 5 re-ingested under the f32 codec
    AnnIngest.delete(spark, idx, Seq(5L, 12L, 40L).toDF("vec_id"), "gone")
    def emb(rows: Row*) = spark.createDataFrame(java.util.List.of(rows: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val fresh = emb(Row(5L, Seq[java.lang.Float](0.5f, 0.4f, 0.3f, 0.2f,
      0.1f, 0f, -0.1f, -0.2f)))
    graft.TestSpark.withConf(AnnIngest.VectorCodecKey, "f32") {
      AnnIngest.ingestBatch(fresh.union(vecs(500 until 520)), 4L, idx,
        nCells = 16)
    }
    // row 700 holds null elements: its cell reads them as 0.0, and they
    // stay null at rest
    val withNull = Seq[java.lang.Float](0.3f, null, -0.2f, 0.6f, null, 0.1f,
      0.2f, 0.4f)
    AnnIngest.ingestBatch(emb(Row(700L, withNull)), 5L, idx, nCells = 16)
    val nullQuery = emb(Row(700L, withNull),
      Row(901L, Seq[java.lang.Float](0.5f, null, -0.25f, 0.1f, 0f, 0.3f,
        null, 0.7f)))
    val queries = vecs(0 until 30).union(cluster(330 until 340, -5.0))
      .union(fresh).union(vecs(500 until 505)).union(nullQuery)
    val (runs, deltas) = AnnIngest.live(spark, idx, Long.MaxValue)
    val nCells = AnnIngest.readCentroids(spark, idx).get.length
    for ((k, nProbe) <- Seq((3, 2), (10, nCells))) {
      val held = topK(idx, queries, k, nProbe)
      assert(AnnIngest.heldSizes(spark, idx)._1 === runs.length +
        deltas.length, "the held path served the query")
      val dist = distTopK(idx, queries, k, nProbe)
      assert(AnnIngest.heldSizes(spark, idx) === ((0, 0L)),
        "an index above the cap is not held")
      assert(held.exists(_._1 == 901L) && held.exists(_._3 == 700L))
      assert(held.count(x => x._3 == 5L) > 0)
      assert(!held.exists(x => Set(12L, 40L, 300L)(x._3)))
      assert(sameBits(held, dist), s"k $k nProbe $nProbe: " +
        held.diff(dist).take(5) + " vs " + dist.diff(held).take(5))
      assert(sameBits(held, referenceTopK(idx, queries, k, nProbe,
        liveByAntiJoin)), s"k $k nProbe $nProbe: reference")
    }
  }

  test("a delta overwritten under its batch id with other rows is never " +
    "served stale from the held rows, even with its old mtimes") {
    val t = java.nio.file.Files.createTempDirectory("graft_annow").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 40), 0L, idx, nCells = 4)
    AnnIngest.ingestBatch(vecs(40 until 60), 1L, idx, nCells = 4)
    // every cell probed and k above the corpus: the neighbor ids are
    // exactly the live ids
    val q = vecs(0 until 60)
    def ids() = topK(idx, q, 80, 4).map(_._3).toSet
    assert(ids() === (0L until 60L).toSet)
    assert(AnnIngest.heldSizes(spark, idx)._1 === 2)
    val dir = new java.io.File(s"$idx/vectors/batch=1")
    def tree(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles).toSeq.flatten.filter(_.isDirectory)
        .flatMap(tree)
    val mtimes = tree(dir).map(f => f.getName -> f.lastModified).toMap
    AnnIngest.ingestBatch(vecs(100 until 120), 1L, idx, nCells = 4)
    // as on a filesystem with 1-second mtimes: only the files differ
    tree(dir).foreach(f => mtimes.get(f.getName).foreach(f.setLastModified))
    assert(ids() === ((0L until 40L) ++ (100L until 120L)).toSet)
    assert(AnnIngest.heldSizes(spark, idx)._1 === 2)
    assert(sameBits(topK(idx, q, 5, 2), distTopK(idx, q, 5, 2)))
  }

  test("the held rows follow the live set: a steady query launches no " +
    "job, a compaction's superseded dirs leave the held map at the next " +
    "query, and the cap evicts the least recently queried index") {
    val t = java.nio.file.Files.createTempDirectory("graft_annlru").toString
    val (a, b) = (s"$t/a", s"$t/b")
    AnnIngest.ingestBatch(vecs(0 until 40), 0L, a, nCells = 4)
    AnnIngest.ingestBatch(vecs(40 until 60), 1L, a, nCells = 4)
    val q = vecs(0 until 10)
    var got = Seq.empty[(Long, Int, Long, Double)]
    def jobs(idx: String, cap: Long = AnnIngest.HeldMaxValues): Int =
      jobsOf {
        got = AnnIngest.queryTopKWith(spark, idx, q, 3, 2, cap).collect()
          .toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getDouble(3))).sorted
      }._1
    // the distributed answer first: a distributed query leaves the
    // index unheld
    val want = distTopK(a, q, 3, 2)
    assert(jobs(a) === 1, "both deltas are read in one job")
    assert(AnnIngest.heldSizes(spark, a) === ((2, 60L * 8)))
    assert(jobs(a) === 0)
    assert(sameBits(got, want))
    AnnIngest.compact(spark, a, 1L)
    assert(jobs(a) === 0, "the compaction holds the run it writes")
    assert(AnnIngest.heldSizes(spark, a) === ((1, 60L * 8)),
      "the folded deltas are dropped")
    assert(sameBits(got, distTopK(a, q, 3, 2)))
    // a (480 values) and b (240) fit together under 720, not under 719;
    // the distributed call above left a unheld
    AnnIngest.ingestBatch(vecs(0 until 30), 0L, b, nCells = 4)
    assert(jobs(a, 720L) === 1 && jobs(b, 720L) === 1)
    assert(AnnIngest.heldSizes(spark, a) === ((1, 480L)) &&
      AnnIngest.heldSizes(spark, b) === ((1, 240L)))
    assert(jobs(b, 719L) === 0)
    assert(AnnIngest.heldSizes(spark, a) === ((0, 0L)),
      "the least recently queried index is evicted")
    assert(AnnIngest.heldSizes(spark, b) === ((1, 240L)))
    // an index above the cap on its own is served distributed
    assert(jobs(a, 479L) === 1 && AnnIngest.heldSizes(spark, a) === ((0, 0L)))
    assert(sameBits(got, distTopK(a, q, 3, 2)))
  }

  test("a NaN score ranks first, ties by id: queryTopK rows for an " +
    "Inf-norm vector are the same under any partitioning of its batch, " +
    "on both paths, and equal the reference") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_annnan").toString
    // elements past ~1e155 square to Inf: the norm is Inf, and the cosine
    // of two such vectors is Inf/Inf = NaN
    val big = (0 until 6).map { i =>
      (1000L + i, Array.tabulate(8)(d => 1e200 * (1 + 0.1 * i + 0.01 * d)))
    }.toDF("vec_id", "embedding")
    def dbl(ids: Range) = vecs(ids).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val q = big.union(dbl(0 until 5))
    val got = Seq(1, 4).map { parts =>
      val idx = s"$t/p$parts"
      AnnIngest.ingestBatch(dbl(0 until 40), 0L, idx, nCells = 4)
      AnnIngest.ingestBatch(big.union(dbl(40 until 60)).repartition(parts),
        1L, idx, nCells = 4)
      val held = topK(idx, q, 3, 1)
      assert(sameBits(held, distTopK(idx, q, 3, 1)), s"$parts partitions")
      assert(sameBits(held, referenceTopK(idx, q, 3, 1)),
        s"$parts partitions: reference")
      held
    }
    assert(sameBits(got(0), got(1)))
    val self = got(0).filter(_._1 == 1000L)
    assert(self.map(_._3) === Seq(1000L, 1001L, 1002L) &&
      self.forall(_._4.isNaN), self)
  }

  /** (vec_id, e, norm, cell) of every live row of `idx`, a null element
    * kept, in one order. */
  private def indexRows(idx: String): Seq[(Long, Seq[Any], Double, Int)] =
    AnnIngest.readIndex(spark, idx, None)
      .select("vec_id", "e", "norm", "cell").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Any](1), r.getDouble(2), r.getInt(3)))
      .sortBy(_.toString)

  private def embRows(rows: org.apache.spark.sql.Row*) = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(java.util.List.of(rows: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  test("an embedding with null elements ingests on both paths: its cell " +
    "reads a null as 0.0, the nulls stay null at rest, and the held and " +
    "distributed answers are the same bits") {
    import org.apache.spark.sql.Row
    val t = java.nio.file.Files.createTempDirectory("graft_annnull").toString
    val odd = embRows(
      Row(900L, Seq[java.lang.Float](0.5f, null, -0.25f, 0.1f, 0f, 0.3f,
        null, 0.7f)),
      Row(901L, Seq.fill[java.lang.Float](8)(null)),
      Row(902L, Seq[java.lang.Float](-0.4f, 0.2f, null, 0.9f, -0.1f, null,
        0.3f, 0.05f)))
    for (codec <- Seq("f64", "f32")) {
      val (held, dist) = (s"$t/$codec/held", s"$t/$codec/dist")
      graft.TestSpark.withConf(AnnIngest.VectorCodecKey, codec) {
        for ((idx, cap) <- Seq(held -> AnnIngest.HeldMaxValues, dist -> 0L)) {
          AnnIngest.ingestBatch(vecs(0 until 40), 0L, idx, nCells = 4)
          AnnIngest.ingestBatchWith(odd.union(vecs(40 until 50)), 1L, idx, 4,
            cap)
        }
      }
      val rows = indexRows(held)
      assert(rows === indexRows(dist), codec)
      val cents = AnnIngest.readCentroids(spark, held).get
      odd.collect().foreach { r =>
        val e = r.getSeq[java.lang.Float](1)
        val got = rows.find(_._1 == r.getLong(0)).get
        assert(got._2.map(_ == null) === e.map(_ == null), s"id ${got._1}")
        assert(got._4 === graft.sim.Ivf.probeCells(cents,
          e.map(x => if (x == null) 0.0 else x.toDouble).toArray, 1).head)
      }
      val q = vecs(0 until 10).union(odd)
      val want = distTopK(dist, q, 5, 2)
      assert(want.exists(_._3 == 900L))
      assert(sameBits(topK(held, q, 5, 2), want), codec)
      assert(sameBits(distTopK(held, q, 5, 2), want), codec)
    }
  }

  test("writes keep a held index current: a driver-side ingest, a small " +
    "delete and a compaction over held inputs run no job, the query after " +
    "each launches none and returns the reference rows, and only a " +
    "caller's repartition adds jobs to an ingest") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_annwt").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 40), 0L, idx, nCells = 4)
    // one local frame: collecting it runs no job
    val q = vecs(0 until 70)
    assert(topK(idx, q, 5, 2).nonEmpty) // holds the index
    def write(jobs: Int, step: String)(body: => Unit): Unit = {
      val (n, stages) = jobsOf(body)
      assert(n === jobs, s"$step: " + stages.map(_._1).mkString(", "))
      var got = Seq.empty[(Long, Int, Long, Double)]
      val (qn, qStages) = jobsOf { got = topK(idx, q, 5, 2) }
      assert(qn === 0, s"query after $step: " +
        qStages.map(_._1).mkString(", "))
      assert(sameBits(got, referenceTopK(idx, q, 5, 2)), step)
    }
    // an unrepartitioned local batch: collected and written with no job
    write(0, "ingest")(
      AnnIngest.ingestBatch(vecs(40 until 60), 1L, idx, nCells = 4))
    // the driver's write keeps one file per cell
    val cellDirs = new java.io.File(s"$idx/vectors/batch=1").listFiles
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.forall(_.listFiles
      .count(_.getName.endsWith(".parquet")) == 1))
    write(0, "fold")(AnnIngest.compact(spark, idx, 1L))
    // a round-robin repartition of the batch costs its shuffle and the
    // collect's result job; the write still runs none
    write(2, "repartitioned ingest")(AnnIngest.ingestBatch(
      vecs(60 until 120).repartition(3), 2L, idx, nCells = 4))
    // the 60-row fold lands in the 60-row run's size class: two runs
    write(0, "fold and merge")(AnnIngest.compact(spark, idx, 2L))
    assert(IngestIndex.readManifest(spark, idx).runs("vectors") ===
      Seq(IngestIndex.Run("run_2_1", 120L)))
    write(0, "delete")(
      AnnIngest.delete(spark, idx, Seq(3L, 65L).toDF("vec_id"), "gone"))
    assert(!topK(idx, q, 5, 2).exists(x => Set(3L, 65L)(x._3)))
    write(0, "second delete")(
      AnnIngest.delete(spark, idx, Seq(7L).toDF("vec_id"), "more"))
    // no delta to fold: the compaction applies the takedowns, writes no
    // run, and holds the tombstone set under its new ledger
    write(0, "apply")(AnnIngest.compact(spark, idx, 3L))
    assert(IngestIndex.readManifest(spark, idx).runs("tombs").map(_.name)
      .toSet === Set("t_gone", "t_more"))
    assert(AnnIngest.heldSizes(spark, idx) === ((1, 120L * 8)))
    // a steady ingest of an unrepartitioned local batch, end to end
    write(0, "steady ingest")(
      AnnIngest.ingestBatch(vecs(120 until 150), 4L, idx, nCells = 4))
    assert(AnnIngest.heldSizes(spark, idx) === ((2, 150L * 8)))
  }

  test("a compaction over held inputs writes the rows and the skew report " +
    "of the distributed one, over a split tombstone, a source-scoped " +
    "takedown with a re-ingested id, an f32 delta of double-born vectors " +
    "and a delta retried under its batch id") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_annhc").toString
    def cluster(ids: Range, base: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (base + 0.01 * math.sin(i * 31 + d * 7)).toFloat))
    }.toDF("vec_id", "embedding")
    // not representable as floats: the f32 codec rounds them
    def dbl(ids: Range) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d * 5) / 3))
    }.toDF("vec_id", "embedding")
    val q = vecs(0 until 20).union(cluster(330 until 340, -5.0))
    // `held` is queried, so its writes hold their rows; `dist` never is,
    // and every write of it runs distributed
    val (held, dist) = (s"$t/held", s"$t/dist")
    for ((idx, cap) <- Seq(held -> AnnIngest.HeldMaxValues, dist -> 0L)) {
      def ingest(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
        AnnIngest.ingestBatchWith(df, id, idx, 16, cap)
      ingest(vecs(0 until 300), 0L)
      ingest(cluster(300 until 340, -5.0), 1L)
      AnnIngest.compact(spark, idx, 1L)
      AnnIngest.compact(spark, idx, 2L, splitHot = 2.0)
      if (cap > 0) topK(idx, q, 3, 2) else distTopK(idx, q, 3, 2)
      AnnIngest.delete(spark, idx, Seq(5L, 12L, 301L).toDF("vec_id"), "gone")
      graft.TestSpark.withConf(AnnIngest.VectorCodecKey, "f32") {
        ingest(dbl(5 until 6).union(dbl(500 until 520)), 3L)
      }
      ingest(vecs(600 until 630), 4L)
      ingest(vecs(640 until 650), 4L)
      val (runs, deltas) = AnnIngest.live(spark, idx, Long.MaxValue)
      if (cap > 0) assert(AnnIngest.heldSizes(spark, idx)._1 ===
        runs.length + deltas.length, "the retried delta replaces its rows")
      graft.TestSpark.withConf(AnnIngest.VectorCodecKey, "f32") {
        AnnIngest.compact(spark, idx, 4L)
      }
    }
    assert(IngestIndex.readManifest(spark, held).runs("tombs").map(_.name)
      .toSet === Set("t_gone", "t_split_2"))
    val (runs, deltas) = AnnIngest.live(spark, held, Long.MaxValue)
    assert(deltas.isEmpty &&
      AnnIngest.heldSizes(spark, held)._1 === runs.length,
      "the held index holds every run the compaction left")
    val rows = indexRows(held)
    assert(rows === indexRows(dist))
    assert(rows.count(_._1 == 5L) === 1 && rows.exists(_._1 == 640L))
    assert(!rows.exists(r => Set(12L, 301L, 600L)(r._1)))
    def skew(idx: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$idx/skew_v4.json"))
    val fromHeld = skew(held)
    assert(fromHeld === skew(dist))
    // the same report off the footers, once the index is not held
    assert(sameBits(topK(held, q, 5, 4), distTopK(held, q, 5, 4)))
    assert(AnnIngest.heldSizes(spark, held) === ((0, 0L)))
    AnnIngest.skewReport(spark, held, 4L)
    assert(skew(held) === fromHeld)
  }

  /** The footer of `file`. */
  private def footer(file: java.io.File) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toURI), conf))
    try r.getFooter finally r.close()
  }

  /** The parquet files right under `dir`. */
  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  /** The `cell=` dirs of `dir`, by name. */
  private def cellDirsOf(dir: String): Map[String, java.io.File] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("cell=")).map(d => d.getName -> d).toMap

  test("driver-written dirs read back as the bits of distributed-written " +
    "ones under both codecs: a null element, one file per cell dir, the " +
    "footer rows, codec, columns and metadata, the skew counts, a fully " +
    "tombstoned held compaction and a small tombstone") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_anndw").toString
    val odd = embRows(
      Row(900L, Seq[java.lang.Float](0.5f, null, -0.25f, 0.1f, 0f, 0.3f,
        null, 0.7f)),
      Row(901L, Seq.fill[java.lang.Float](8)(null)))
    // not representable as floats: the f32 codec rounds them
    val dbl = (70 until 90).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d * 5) / 3))
    }.toDF("vec_id", "embedding")
    for (codec <- Seq("f64", "f32")) {
      val (drv, dist) = (s"$t/$codec/drv", s"$t/$codec/dist")
      graft.TestSpark.withConf(AnnIngest.VectorCodecKey, codec) {
        for ((idx, cap) <- Seq(drv -> AnnIngest.HeldMaxValues, dist -> 0L)) {
          // the first batch trains the quantizer: distributed on both
          AnnIngest.ingestBatch(vecs(0 until 40), 0L, idx, nCells = 4)
          AnnIngest.ingestBatchWith(odd.union(vecs(40 until 70))
            .union(dbl.select(col("vec_id"), col("embedding")
              .cast("array<float>").as("embedding"))), 1L, idx, 4, cap)
          AnnIngest.ingestBatchWith(dbl, 2L, idx, 4, cap)
        }
      }
      assert(indexRows(drv) === indexRows(dist), codec)
      for (b <- Seq(1, 2)) {
        val (dc, sc) = (cellDirsOf(s"$drv/vectors/batch=$b"),
          cellDirsOf(s"$dist/vectors/batch=$b"))
        assert(dc.nonEmpty && dc.keySet === sc.keySet, s"$codec batch $b")
        dc.foreach { case (c, d) =>
          val (fd, fs) = (parquetFiles(d), parquetFiles(sc(c)))
          assert(fd.length === 1 && fs.length === 1, s"$codec $b $c")
          assert(IngestIndex.footerRows(spark, Seq(d.getPath)) ===
            IngestIndex.footerRows(spark, Seq(sc(c).getPath)))
          // a Spark write's codec, columns and footer metadata; only the
          // nullability differs, which a distributed write takes from its
          // plan and the driver's always leaves nullable
          type Footer = org.apache.parquet.hadoop.metadata.ParquetMetadata
          def codecs(f: Footer) =
            f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
          def columns(f: Footer) =
            f.getFileMetaData.getSchema.getColumns.asScala.map(c =>
              c.getPath.toSeq -> c.getPrimitiveType.getPrimitiveTypeName)
          def meta(f: Footer) = f.getFileMetaData.getKeyValueMetaData.asScala
            .toMap.map { case (k, v) => k -> (
              if (k != "org.apache.spark.sql.parquet.row.metadata") v
              else org.apache.spark.sql.types.DataType.fromJson(v)
                .simpleString) }
          val (md, ms) = (footer(fd.head), footer(fs.head))
          assert(codecs(md).nonEmpty && codecs(md) === codecs(ms))
          assert(columns(md) === columns(ms), s"$codec $b $c")
          assert(meta(md) === meta(ms), s"$codec $b $c")
        }
      }
      assert(AnnIngest.skewReport(spark, drv, 2L)._2 ===
        AnnIngest.skewReport(spark, dist, 2L)._2, codec)
    }

    // a held compaction whose every input row is tombstoned writes its
    // empty run with no job, commits no run, as the distributed one, and
    // the index compacts again after it
    val (drv, dist) = (s"$t/gone/drv", s"$t/gone/dist")
    for ((idx, cap) <- Seq(drv -> AnnIngest.HeldMaxValues, dist -> 0L)) {
      AnnIngest.ingestBatch(vecs(0 until 40), 0L, idx, nCells = 4)
      AnnIngest.ingestBatchWith(vecs(40 until 60), 1L, idx, 4, cap)
      if (cap > 0) topK(idx, vecs(0 until 5), 3, 2) // holds the index
      AnnIngest.delete(spark, idx, (0L until 60L).toDF("vec_id"), "all")
      if (cap > 0) assert(jobsOf(AnnIngest.compact(spark, idx, 1L))._1 === 0)
      else AnnIngest.compact(spark, idx, 1L)
      assert(AnnIngest.readIndex(spark, idx, None).count() === 0L)
      assert(IngestIndex.readManifest(spark, idx).runs.get("vectors")
        .forall(_.isEmpty))
      AnnIngest.ingestBatchWith(vecs(60 until 80), 2L, idx, 4, cap)
      AnnIngest.compact(spark, idx, 2L)
      assert(IngestIndex.readManifest(spark, idx).runs("vectors") ===
        Seq(IngestIndex.Run("run_2_0", 20L)), idx)
    }
    assert(indexRows(drv) === indexRows(dist))
    assert(indexRows(drv).map(_._1) === (60L until 80L).sortBy(_.toString))
    // the empty write itself: a dir with no file, read as 0 rows under
    // the pinned schema
    val empty = s"$t/empty"
    IngestIndex.writeFromDriver(spark, empty, org.apache.spark.sql.types
      .StructType.fromDDL("vec_id long, norm double"), Nil)
    assert(new java.io.File(empty).list().isEmpty)
    assert(IngestIndex.footerRows(spark, Seq(empty)) === 0L)
    assert(spark.read.schema("vec_id long, norm double").parquet(empty)
      .count() === 0L)

    // a small tombstone, written from the driver, read under its pinned
    // schema: the distinct ids, each with the source bound
    val tb = s"$t/tomb"
    AnnIngest.ingestBatch(vecs(0 until 40), 0L, tb, nCells = 4)
    AnnIngest.ingestBatch(vecs(40 until 60), 3L, tb, nCells = 4)
    AnnIngest.delete(spark, tb, Seq(7L, 3L, 7L, 55L).toDF("vec_id"), "few")
    val dir = new java.io.File(s"$tb/tombs/t_few")
    assert(parquetFiles(dir).length === 1)
    val got = spark.read.schema("vec_id long, tb_bound long")
      .parquet(dir.getPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === Seq(3L, 7L, 55L).map(_ -> 4L))
  }

  test("a driver-side write that died before its rename leaves a _stage_ " +
    "dir that no listing, read or query sees, and the retry of its target " +
    "replaces it") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_annst").toString
    val idx = s"$t/idx"
    AnnIngest.ingestBatch(vecs(0 until 40), 0L, idx, nCells = 4)
    val q = vecs(0 until 70)
    assert(topK(idx, q, 5, 2).nonEmpty) // holds the index
    // a whole staged delta and tombstone, as a crash before the rename
    // leaves them: the written dirs moved back to their stage names
    def crash(dir: String): Unit = {
      val d = new java.io.File(dir)
      assert(d.renameTo(new java.io.File(d.getParentFile,
        "_stage_" + d.getName)))
    }
    AnnIngest.ingestBatch(vecs(40 until 70), 1L, idx, nCells = 4)
    crash(s"$idx/vectors/batch=1")
    AnnIngest.delete(spark, idx, Seq(3L, 7L).toDF("vec_id"), "gone")
    crash(s"$idx/tombs/t_gone")
    val stages =
      Seq(s"$idx/vectors/_stage_batch=1", s"$idx/tombs/_stage_t_gone")
    assert(stages.forall(new java.io.File(_).isDirectory))
    assert(IngestIndex.deltaDirs(spark, idx, "vectors", -1L, Long.MaxValue)
      .map(d => IngestIndex.nameOf(d._2)) === Seq("batch=0"))
    assert(AnnIngest.tombDirs(spark, idx).isEmpty)
    val cycle = IngestIndex.AnnFamily.open(
      IngestIndex.readManifest(spark, idx), Nil, 5L)
    assert(!cycle.superseded(Nil)("_stage_batch=1"))
    val ids = AnnIngest.readIndex(spark, idx, None).select("vec_id")
      .as[Long].collect().toSet
    assert(ids === (0L until 40L).toSet)
    for (got <- Seq(topK(idx, q, 80, 4), distTopK(idx, q, 80, 4))) {
      assert(got.map(_._3).toSet === ids)
      assert(sameBits(got, referenceTopK(idx, q, 80, 4)))
    }
    // the retries: each stage is cleared and its target written whole
    AnnIngest.ingestBatch(vecs(40 until 70), 1L, idx, nCells = 4)
    AnnIngest.delete(spark, idx, Seq(3L, 7L).toDF("vec_id"), "gone")
    assert(stages.forall(!new java.io.File(_).exists))
    val want = (0L until 70L).toSet -- Set(3L, 7L)
    assert(AnnIngest.readIndex(spark, idx, None).select("vec_id")
      .as[Long].collect().toSet === want)
    val got = topK(idx, q, 80, 4)
    assert(got.map(_._3).toSet === want)
    assert(sameBits(got, referenceTopK(idx, q, 80, 4)))
    assert(sameBits(got, distTopK(idx, q, 80, 4)))
    // an abandoned delete, whose tag is never issued again, and an
    // abandoned ingest: no retry clears their stages, the next
    // compaction does, and reads nothing from them
    AnnIngest.delete(spark, idx, Seq(11L).toDF("vec_id"), "lost")
    crash(s"$idx/tombs/t_lost")
    AnnIngest.ingestBatch(vecs(70 until 80), 2L, idx, nCells = 4)
    crash(s"$idx/vectors/batch=2")
    val orphans =
      Seq(s"$idx/tombs/_stage_t_lost", s"$idx/vectors/_stage_batch=2")
    assert(orphans.forall(new java.io.File(_).isDirectory))
    AnnIngest.compact(spark, idx, 2L)
    assert(orphans.forall(!new java.io.File(_).exists))
    assert(AnnIngest.readIndex(spark, idx, None).select("vec_id")
      .as[Long].collect().toSet === want)
    assert(sameBits(topK(idx, q, 80, 4), referenceTopK(idx, q, 80, 4)))
  }
}
