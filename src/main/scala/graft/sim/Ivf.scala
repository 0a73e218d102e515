package graft.sim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType}

import graft.expr.DotProduct.dot

/** IVF-style ANN: a coarse k-means quantizer partitions vectors into cells;
  * search runs brute-force only inside a query's cell (single-probe).
  *
  * Scale design: centroids are tiny (nCells × dim doubles) and BROADCAST;
  * assignment is a narrow mapPartitions pass; the only shuffle keys on
  * `cell` — the classic IVF sharding where each cell lives on one executor
  * group. Lloyd iterations are two map+groupBy rounds (per-dimension means
  * via posexplode, partial-aggregated).
  *
  * Determinism: seeds are the lowest `nCells` vec_ids, so the quantizer is
  * reproducible up to FP summation order in the means.
  */
object Ivf {

  private def toArr(r: Row, i: Int): Array[Double] =
    r.getSeq[Double](i).toArray

  /** Coarse-quantizer training: a deterministic hash-stride SAMPLE of the
    * vectors comes to the driver (bounded by `sampleCap` — at 10⁹ vectors
    * the quantizer still trains on ~50k, the standard IVF recipe) and
    * Lloyd runs locally; executors only ever see the final broadcast
    * centroids. This replaces per-iteration distributed jobs — quantizer
    * quality needs a sample, not the corpus. */
  def centroids(v: DataFrame, nCells: Int, iters: Int = 4,
                sampleCap: Int = 50000, nHint: Long = -1L): Array[Array[Double]] = {
    val n = if (nHint > 0) nHint else v.count()
    val step = math.max(1L, n / sampleCap)
    val strided = v.filter(pmod(col("vec_id"), lit(step)) === 0)
      .select("vec_id", "e").collect()
      .sortBy(_.getLong(0)).map(toArr(_, 1))
    // the id-stride sample can come up empty (or degenerate) on id
    // distributions that dodge the modulus (e.g. a SUBSET of a corpus
    // — a split-retrain hot cell — whose ids share a parity with an
    // even step). Fall back to a HASH-stride sample: xxhash64 breaks
    // any id-structure correlation with the modulus, still
    // deterministic and still ~n/step rows. A quantizer trained on a
    // handful of head rows (the old fallback) is one-seed-per-cell
    // degenerate — the opposite of the ~50k-sample recipe. Final
    // guard: a bounded head sample, reachable only if BOTH strides
    // come up empty (vanishingly unlikely with a uniform hash).
    val sample =
      if (strided.nonEmpty) strided
      else {
        val hashed = v.filter(pmod(xxhash64(col("vec_id")), lit(step)) === 0)
          .select("vec_id", "e").collect()
          .sortBy(_.getLong(0)).map(toArr(_, 1))
        if (hashed.nonEmpty) hashed
        else v.select("vec_id", "e").limit(sampleCap).collect()
          .sortBy(_.getLong(0)).map(toArr(_, 1))
      }
    // an EMPTY corpus (or all-null embeddings) has no quantizer; the
    // assignment maps run over zero rows, so empty centroids are safe
    if (sample.isEmpty) return Array.empty
    // a corpus smaller than nCells trains fewer cells (one seed per
    // available vector) — indexing past the seed array crashed on
    // tiny corpora (fuzz gate, tiny mode)
    var cents = sample.take(nCells)
    val k = cents.length
    val data = sample.map(UnsafeArrayData.fromPrimitiveArray(_): ArrayData)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](cents(0).length))
      val cnts = new Array[Long](k)
      sample.indices.foreach { j =>
        val e = sample(j)
        val best = nearestCell(cents, data(j))
        val s = sums(best); var i = 0
        while (i < e.length) { s(i) += e(i); i += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (cnts(c) == 0) cents(c)
        else sums(c).map(_ / cnts(c))
      }
    }
    cents
  }

  /** Squared distances of `e` to every centroid. */
  private def distances(cs: Array[Array[Double]],
                        e: Array[Double]): Array[Double] = {
    val d2 = new Array[Double](cs.length)
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      val cv = cs(c)
      while (i < e.length) { val t = e(i) - cv(i); d += t * t; i += 1 }
      d2(c) = d
      c += 1
    }
    d2
  }

  /** Index of the centroid of `cs` nearest to `e` (squared L2 distance
    * over `e`'s length; the first minimum wins): the one argmin of
    * training, ingest, heal reassignment and the ANN index's driver-side
    * ingest. A null element reads 0.0, as [[graft.expr.DotProduct]] and
    * the queries read it. A DEAD slot (an all-NaN centroid) never wins:
    * NaN never beats a running min. Allocation-free — this is the per-row
    * hot path over the whole corpus, so it must not share the
    * array-returning [[distances]] helper (2 KB of garbage per row at
    * nCells=256). */
  def nearestCell(cs: Array[Array[Double]], e: ArrayData): Int = {
    val n = e.numElements()
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      val cv = cs(c)
      while (i < n) {
        val t = (if (e.isNullAt(i)) 0.0 else e.getDouble(i)) - cv(i)
        d += t * t; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** `v` plus a `cell` column: the [[nearestCell]] of its `e` under the
    * broadcast centroids, a narrow per-row expression. */
  def withCell(v: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val bc = v.sparkSession.sparkContext.broadcast(cents)
    v.withColumn("cell",
      GraftBridge.column(NearestCell(GraftBridge.expression(col("e")), bc)))
  }

  /** Nearest-centroid assignment: (vec_id, e, norm, cell). */
  def assignCells(v: DataFrame, cents: Array[Array[Double]]): DataFrame =
    withCell(v.select(col("vec_id"), col("e"), col("norm")), cents)

  /** The `nProbe` nearest cells of `e`, nearest first, ties broken by
    * cell id. DEAD slots (all-NaN centroids left by a cold-cell fold —
    * see [[graft.streaming.AnnIngest]]) are never probed: their
    * distances read NaN and are filtered before the sort (the
    * single-assign loops skip them for free — NaN never wins a running
    * min — but a sort would order NaN after the finites and a large
    * nProbe could reach them). Shared by [[assignProbes]] and the ANN
    * index's driver-side query probes, so both pick the same cells. */
  def probeCells(cs: Array[Array[Double]], e: Array[Double],
                 nProbe: Int): Array[Int] =
    distances(cs, e).zipWithIndex.filter(!_._1.isNaN)
      .sortBy { case (d, i) => (d, i) }
      .take(math.min(nProbe, cs.length))
      .map(_._2)

  /** Multi-probe QUERY assignment (the IVF nprobe recall knob): each
    * vector probes its `nProbe` nearest cells ([[probeCells]]) — one
    * (vec_id, cell) row per probe, narrow flatMap over the broadcast
    * centroids. The INDEX side stays single-assigned; candidate volume
    * scales ×nProbe and recall approaches brute force as nProbe →
    * nCells. */
  def assignProbes(v: DataFrame, cents: Array[Array[Double]],
                   nProbe: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    val p = nProbe
    v.select(col("vec_id"), col("e"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, e) => probeCells(bc.value, e, p).map((id, _)) }
      .toDF("vec_id", "cell")
  }

  /** IVF top-k: quadratic search only within each (probed) cell.
    *
    * Single-probe (`nProbe = 1`, the scale default): candidate ids come
    * from one groupBy over the cell assignment (cells are disjoint → no
    * dedup pass) — the assignment map runs once and no full pair set ever
    * crosses a shuffle.
    *
    * Multi-probe (`nProbe > 1`): the query side probes its nProbe nearest
    * cells and joins the single-assigned index side on `cell` — the
    * standard IVF recall knob; candidate volume and recall scale with
    * nProbe. Both shuffles key on `cell`; no dedup pass is needed either
    * way because the index side assigns each member to exactly one cell.
    *
    * Selection is the bounded [[graft.agg.TopKAgg]]; the vector re-attach
    * is size-gate-hinted (see Similarity.reattachSides) — only the
    * CENTROIDS are unconditionally broadcast in IVF, never the O(n)
    * vector table. */
  def ivfTopK(emb: DataFrame, k: Int = 3, nCells0: Int = 0,
              nProbe: Int = 1): DataFrame = {
    val v = Similarity.prep(emb)
    // cell count tracks corpus size (in-cell work is ~n²/cells): target
    // ~100-vector cells, clamped — the IVF nlist ≈ c·√n/…-style sizing
    val n = emb.count()
    val nCells = if (nCells0 > 0) nCells0
      else math.min(256, math.max(16, (n / 96L).toInt))
    val cents = centroids(v, nCells, nHint = n)
    val assigned = assignCells(v, cents)
    val cand =
      if (nProbe <= 1)
        Similarity.bucketPairs(
          assigned.select(col("cell"), col("vec_id")), Seq("cell"),
          dedup = false)
      else
        assignProbes(v, cents, nProbe)
          .join(assigned.select(col("cell"), col("vec_id").as("nb_id")),
            "cell")
          .filter(col("vec_id") =!= col("nb_id"))
          .select("vec_id", "nb_id")
    val (va, vb) = Similarity.reattachSides(v)
    val pairs = cand.join(va, "vec_id").join(vb, "nb_id")
      .withColumn("cos", Similarity.cosine(dot(col("ea"), col("eb")), col("na"), col("nb")))
    Similarity.topKSelect(pairs, k)
  }
}

/** [[Ivf.nearestCell]] of an `array<double>` column under broadcast
  * centroids; a null vector has no cell. */
private[sim] case class NearestCell(child: Expression,
    cents: Broadcast[Array[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(e: Any): Any =
    Ivf.nearestCell(cents.value, e.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression): NearestCell =
    copy(child = c)
}
