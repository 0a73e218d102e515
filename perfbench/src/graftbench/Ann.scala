package graftbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.streaming.AnnIngest

/** `ann_serve`: seeded clustered vectors through the streaming ANN index,
  * each ingest batch followed by closed-loop top-k requests, with
  * periodic compaction and deletes. */
object Ann {
  val Dim = 64
  val Clusters = 24
  /** Per-dimension noise around a unit-norm cluster centre. */
  val Noise = 0.08
  val BatchVecs = 500
  val Cells = 16
  val NProbe = 2
  val K = 10
  /** A request: this many vectors already in the index (self queries)
    * plus as many fresh ones. */
  val SelfPerRequest = 8
  val FreshPerRequest = 8
  val RequestsPerCycle = 3
  /** Recall is measured on this many requests at the window's start. */
  val RecallRequests = 4
  val WarmupCycles = 1
  /** Wall of `CompactEvery` cycles on 4 cores, which sets how many fit
    * `--seconds`. */
  val NominalUnitS = 20.0
  val CompactEvery = 4
  /** A delete runs on cycles with this id modulo `CompactEvery`. */
  val DeletePhase = 1
  val DeleteIds = 8
  val FreshIdBase = 1000000000000L

  final class Feed(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val centres = Array.fill(Clusters) {
      val v = Array.fill(Dim)(gauss())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // uneven cluster sizes: Zipf weights 1/(k+1)
    private val cdf = {
      val w = (1 to Clusters).map(1.0 / _)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    val vectors = mutable.LinkedHashMap.empty[Long, Array[Float]]
    val live = ArrayBuffer.empty[Long]
    val deleted = mutable.Set.empty[Long]
    private var fresh = 0L

    private def gauss(): Double = {
      val u = 1.0 - rnd.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }

    private def draw(): Array[Float] = {
      val u = rnd.nextDouble()
      val c = centres(cdf.indexWhere(_ >= u) max 0)
      Array.tabulate(Dim)(d => (c(d) + Noise * gauss()).toFloat)
    }

    def batch(b: Int): Seq[(Long, Array[Float])] =
      (0 until BatchVecs).map { i =>
        val id = b.toLong * BatchVecs + i
        val v = draw()
        vectors(id) = v
        (id, v)
      }

    /** Make batch `b` visible to later self queries and deletes. */
    def commit(b: Seq[(Long, Array[Float])]): Unit = live ++= b.map(_._1)

    def request(): Seq[(Long, Array[Float])] = {
      val self = Seq.fill(SelfPerRequest)(live(rnd.nextInt(live.length)))
        .distinct.map(id => (id, vectors(id)))
      val fr = Seq.fill(FreshPerRequest) {
        fresh += 1; (FreshIdBase + fresh, draw())
      }
      self ++ fr
    }

    def victims(): Seq[Long] = {
      val ids = Seq.fill(DeleteIds)(live(rnd.nextInt(live.length))).distinct
      live --= ids
      deleted ++= ids
      ids
    }
  }

  def main(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val idx = s"${run.workDir}/ann/idx"
    run.values("gen_s") = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val f = new Feed(run.seed)
      (0 until CompactEvery).foreach(f.batch)
      (System.nanoTime() - t0) / 1e9
    })
    val feed = new Feed(run.seed)
    var next = 0
    val recalls = ArrayBuffer.empty[Double]
    var recallLeft = 0
    val pending = ArrayBuffer.empty[(Seq[(Long, Array[Float])],
      Map[Long, Array[org.apache.spark.sql.Row]])]

    def query(c: Int, r: Int): Unit = {
      val q = feed.request()
      val qdf = q.toDF("vec_id", "embedding")
      val opId = c.toLong * RequestsPerCycle + r
      run.op("ann.queryTopK", opId)(AnnIngest.queryTopK(spark, idx, qdf,
        k = K, nProbe = NProbe).collect()).foreach { rows =>
        val byQ = rows.groupBy(_.getLong(0))
        val selfIds = q.map(_._1).filter(_ < FreshIdBase)
        val badSelf = selfIds.filterNot(id => byQ.get(id).exists(_.exists(
          x => x.getInt(1) == 1 && x.getLong(2) == id && x.getDouble(3) == 1.0)))
        run.check("self_query_top1", "ann.queryTopK", opId, badSelf.isEmpty)(
          s"self queries without themselves at rank 1, cos 1.0: " +
            badSelf.take(5).mkString(","))
        val ghosts = rows.map(_.getLong(2)).filter(feed.deleted)
        run.check("deleted_never_returned", "ann.queryTopK", opId,
          ghosts.isEmpty)(s"deleted ids returned: ${ghosts.take(5).mkString(",")}")
        if (recallLeft > 0) {
          recallLeft -= 1
          pending += ((q, byQ))
        }
      }
    }

    /** Recall of the probed answers against the same index path probing
      * every cell. Runs after the cycle, outside its span and the window
      * clock; compaction leaves query answers unchanged, so the state
      * matches the one the request saw. */
    def scoreRecall(): Unit = run.paused {
      pending.foreach { case (q, byQ) =>
        val full = run.op("ann.recallProbe", 0)(AnnIngest.queryTopK(spark,
          idx, q.toDF("vec_id", "embedding"), k = K, nProbe = Cells)
          .collect()).getOrElse(Array.empty).groupBy(_.getLong(0))
        q.foreach { case (id, _) =>
          val truth = full.getOrElse(id, Array.empty).map(_.getLong(2)).toSet
          val got = byQ.getOrElse(id, Array.empty).map(_.getLong(2)).toSet
          if (truth.nonEmpty)
            recalls += (got intersect truth).size.toDouble / truth.size
        }
      }
      pending.clear()
    }

    /** One cycle — ingest, requests, and delete / compaction on their
      * phases — the parent span `ann.cycle`. */
    def cycle(c: Int): Unit = {
      val b = feed.batch(c)
      val victims =
        if (c % CompactEvery == DeletePhase) feed.victims() else Nil
      // odd cycles are traced: the delete and compaction phases are odd
      run.step("ann.cycle", c, traced = c % 2 == 1) {
        run.op("ann.ingestBatch", c)(AnnIngest.ingestBatch(
          b.toDF("vec_id", "embedding").repartition(run.cores), c, idx,
          Cells))
        feed.commit(b)
        if (victims.nonEmpty)
          run.op("ann.delete", c)(AnnIngest.delete(spark, idx,
            victims.toDF("vec_id"), s"del$c"))
        (0 until RequestsPerCycle).foreach(query(c, _))
        if ((c + 1) % CompactEvery == 0)
          run.op("ann.compact", c)(AnnIngest.compact(spark, idx, c))
      }
      scoreRecall()
      IndexStats.observe(run, "ann", idx)
    }

    val w0 = System.nanoTime()
    while (next < WarmupCycles) { cycle(next); next += 1 }
    run.values("warmup_s") = (System.nanoTime() - w0) / 1e9
    val firstTimed = run.tracer.spans.length
    val timedFrom = next
    // recall over the window's first requests: the same requests against
    // the same index state on every run of a seed
    recallLeft = RecallRequests
    // any CompactEvery consecutive cycles hold one delete and one
    // compaction, so every unit carries the same work
    run.timedUnits(NominalUnitS) { _ =>
      (0 until CompactEvery).foreach { _ => cycle(next); next += 1 }
    }
    run.values("op_samples") = run.walls("ann.queryTopK", firstTimed)
    run.values("ingest_samples") = run.walls("ann.ingestBatch", firstTimed)
    run.values("items") = (next - timedFrom).toLong * BatchVecs
    run.values("quality") = recalls.sum / math.max(1, recalls.length)
    run.values("shape") = s"$Clusters clusters (Zipf sizes) of ${Dim}-d " +
      s"vectors, $BatchVecs-vector batches, requests of " +
      s"${SelfPerRequest + FreshPerRequest} queries, k=$K, nProbe=$NProbe " +
      s"of $Cells cells"

    // every live id indexed exactly once after a final compaction
    val last = next - 1
    run.op("ann.compact", last)(AnnIngest.compact(spark, idx, last))
    run.op("ann.readIndex", last)(AnnIngest.readIndex(spark, idx, None)
      .groupBy("vec_id").count().collect()).foreach { rows =>
      val counts = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = feed.live.toSet
      val dup = counts.count(_._2 != 1)
      val missing = expected.count(!counts.contains(_))
      val extra = counts.keys.count(!expected(_))
      run.check("indexed_exactly_once", "ann.readIndex", last,
        dup == 0 && missing == 0 && extra == 0)(
        s"$dup ids indexed more than once, $missing live ids missing, " +
          s"$extra deleted or unknown ids present")
    }

    if (run.traceMode) {
      IndexStats.report(run, "ann", idx,
        userBytes = feed.vectors.size.toLong * Dim * 4)
      val results = run.tracer.spans.count(s => s.traced &&
        s.name == "ann.queryTopK").toLong *
        (SelfPerRequest + FreshPerRequest) * K
      run.values("ratio.ann.queryTopK.rows_read_per_result") =
        run.counterSum("ann.queryTopK", _.rowsRead).toDouble /
          math.max(1L, results)
      val qs = run.tracer.spans.drop(firstTimed)
        .filter(s => s.name == "ann.queryTopK" && !s.failed)
      run.values("traced_op") = qs.filter(_.traced).map(_.wallS)
      run.values("untraced_op") = qs.filterNot(_.traced).map(_.wallS)
    }
  }
}
