package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.streaming.{IngestIndex, StreamOps}

/** `dedup_ingest`: a seeded document feed through the streaming dedup
  * gate in small batches, with the gate's own compaction cadence and a
  * takedown every cycle. */
object Dedup {
  val BatchDocs = 250
  val Words = 40
  val Vocab = 5000
  val ExactShare = 0.15
  val NearShare = 0.10
  /** Compaction cadence of `StreamOps.dedupIngestStream`. */
  val CompactEvery = 16
  /** The takedown runs on batches with this id modulo `CompactEvery`. */
  val RetractPhase = 7
  val RetractDocs = 10
  val WarmupBatches = 1
  /** Wall of `CompactEvery` batches on 4 cores, which sets how many
    * cycles fit `--seconds`. */
  val NominalUnitS = 36.0
  /** Share of planted near duplicates the gate must flag: one replaced
    * word leaves Jaccard ≥ ~0.85 over 3-word shingles, which the gate's
    * 2-band × 4-row MinHash flags with probability ≥ ~0.75. */
  val NearFloor = 0.60

  /** Doc roles, as planted by the generator. */
  val New = 0
  val Exact = 1
  val Near = 2

  /** Sequential seeded feed. Sources for duplicates are earlier docs that
    * were never retracted; takedown victims are new docs never used as a
    * source, so a retraction never changes any planted doc's verdict. */
  final class Feed(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    val texts = ArrayBuffer.empty[String]
    val roles = ArrayBuffer.empty[Int]
    private val eligible = ArrayBuffer.empty[Int]
    private val usedAsSource = scala.collection.mutable.Set.empty[Int]

    private def word(): String = s"w${rnd.nextInt(Vocab)}"

    def batch(b: Int): Seq[(Long, String)] = {
      val pool = eligible.toIndexedSeq
      val docs = (0 until BatchDocs).map { _ =>
        val r = rnd.nextDouble()
        val id = texts.length
        val (role, text) =
          if (pool.isEmpty || r >= ExactShare + NearShare)
            (New, Seq.fill(Words)(word()).mkString(" "))
          else {
            val src = pool(rnd.nextInt(pool.length))
            usedAsSource += src
            if (r < ExactShare) (Exact, texts(src))
            else {
              val toks = texts(src).split(' ')
              val at = rnd.nextInt(toks.length)
              var w = word()
              while (w == toks(at)) w = word()
              toks(at) = w
              (Near, toks.mkString(" "))
            }
          }
        texts += text; roles += role
        (id.toLong, text)
      }
      eligible ++= docs.map(_._1.toInt)
      docs
    }

    /** Takedown victims from batch `b`: new docs never used as a source. */
    def victims(b: Int): Seq[(Long, String)] = {
      val ids = (b * BatchDocs until (b + 1) * BatchDocs)
        .filter(i => roles(i) == New && !usedAsSource(i)).take(RetractDocs)
      eligible --= ids
      ids.map(i => (i.toLong, texts(i)))
    }
  }

  def main(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val idx = s"${run.workDir}/dedup/idx"
    val out = s"${run.workDir}/dedup/out"
    // the feed is generated as it is consumed; set-up times generating
    // one cycle of it, three times
    run.values("gen_s") = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val f = new Feed(run.seed)
      (0 until CompactEvery).foreach(f.batch)
      (System.nanoTime() - t0) / 1e9
    })
    val feed = new Feed(run.seed)
    var next = 0

    /** One loop step: takedown (on its phase), the batch, and the
      * compaction (on its cadence) — the parent span `dedup.batch`. */
    def batchStep(b: Int): Unit = {
      val docs = feed.batch(b)
      val victims =
        if (b >= 2 && b % CompactEvery == RetractPhase) feed.victims(b - 2)
        else Nil
      // odd batches are traced: the takedown and compaction phases are odd
      run.step("dedup.batch", b, traced = b % 2 == 1) {
        if (victims.nonEmpty)
          run.op("streaming.retractDocs", b)(StreamOps.retractDocs(
            victims.toDF("doc_id", "text"), idx, s"wave$b"))
        run.op("streaming.ingestBatch", b)(StreamOps.ingestBatch(
          docs.toDF("doc_id", "text").repartition(run.cores), b, idx, out))
        if ((b + 1) % CompactEvery == 0)
          run.op("streaming.compact", b)(IngestIndex.compact(spark, idx, b - 1))
      }
      IndexStats.observe(run, "dedup", idx)
    }

    val w0 = System.nanoTime()
    while (next < WarmupBatches) { batchStep(next); next += 1 }
    run.values("warmup_s") = (System.nanoTime() - w0) / 1e9
    val firstTimed = run.tracer.spans.length
    val timedFrom = next
    // any CompactEvery consecutive batches hold one takedown and one
    // compaction, so every unit carries the same work
    run.timedUnits(NominalUnitS) { _ =>
      (0 until CompactEvery).foreach { _ => batchStep(next); next += 1 }
    }
    val docs = (next - timedFrom).toLong * BatchDocs
    run.values("op_samples") = run.walls("dedup.batch", firstTimed)
    run.values("items") = docs
    run.values("shape") = s"$BatchDocs-doc batches of $Words words, " +
      f"${ExactShare * 100}%.0f%% exact and ${NearShare * 100}%.0f%% near " +
      s"duplicates of earlier docs, compaction every $CompactEvery batches"

    // output checks over every decision written
    val verdicts = spark.read.parquet(out)
      .select(col("doc_id"), col("dup_exact"), col("dup_near"), col("batch"))
      .collect()
    val byDoc = verdicts.groupBy(_.getLong(0))
    val fed = next * BatchDocs
    (0 until next).foreach { b =>
      val ids = b * BatchDocs until (b + 1) * BatchDocs
      val rows = ids.map(i => byDoc.getOrElse(i.toLong, Array.empty))
      run.check("one_verdict_per_doc", "streaming.ingestBatch", b,
        rows.forall(_.length == 1))(s"batch $b: verdict counts " +
        rows.map(_.length).distinct.sorted.mkString(","))
      val one = ids.zip(rows).collect { case (i, Array(r)) => (i, r) }
      val missedExact = one.filter { case (i, r) =>
        feed.roles(i) == Exact && !r.getBoolean(1) }
      run.check("planted_exact_flagged", "streaming.ingestBatch", b,
        missedExact.isEmpty)(s"batch $b: ${missedExact.length} planted " +
        s"exact duplicates not dup_exact, e.g. doc ${missedExact.head._1}")
      val falseExact = one.filter { case (i, r) =>
        feed.roles(i) != Exact && r.getBoolean(1) }
      run.check("first_occurrence_not_exact", "streaming.ingestBatch", b,
        falseExact.isEmpty)(s"batch $b: ${falseExact.length} first " +
        s"occurrences marked dup_exact, e.g. doc ${falseExact.head._1}")
    }
    run.check("one_verdict_per_doc", "streaming.ingestBatch", next - 1,
      byDoc.keys.forall(_ < fed))(s"verdicts for docs never fed")
    def nearShare(docs: Int): Double = {
      val nearIds = (0 until docs).filter(feed.roles(_) == Near)
      nearIds.count(i => byDoc.get(i.toLong).exists(_.exists(_.getBoolean(2))))
        .toDouble / math.max(1, nearIds.length)
    }
    val share = nearShare(fed)
    run.check("near_flagged_floor", "streaming.ingestBatch", next - 1,
      share >= NearFloor)(f"near-duplicate flagged share $share%.3f below $NearFloor")
    // reported over the batches every run feeds, so it is fixed per seed
    run.values("quality") = nearShare((WarmupBatches + CompactEvery) * BatchDocs)

    if (run.traceMode) {
      IndexStats.report(run, "dedup", idx, userBytes =
        feed.texts.take(fed).map(_.getBytes("UTF-8").length.toLong).sum)
      run.values("ratio.streaming.ingestBatch.rows_read_per_doc") =
        run.counterSum("streaming.ingestBatch", _.rowsRead).toDouble /
          math.max(1L, tracedDocs(run))
      val batches = run.tracer.spans.drop(firstTimed)
        .filter(s => s.name == "streaming.ingestBatch" && !s.failed)
      // overhead over batches without a takedown or compaction
      val plain = batches.filter(s => s.opId % CompactEvery != RetractPhase &&
        (s.opId + 1) % CompactEvery != 0)
      run.values("traced_op") = plain.filter(_.traced).map(_.wallS)
      run.values("untraced_op") = plain.filterNot(_.traced).map(_.wallS)
    }
  }

  private def tracedDocs(run: Run): Long =
    run.tracer.spans.count(s => s.traced &&
      s.name == "streaming.ingestBatch").toLong * BatchDocs
}
