package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.agg.TopKAgg
import graft.expr.DotProduct.dot

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`, 64-dim in the test tables).
  *
  * Two paths:
  *  - `cosineTopK`: exact brute-force — O(n²) pairs. Correctness baseline
  *    and fine up to ~10⁴ vectors per shard.
  *  - `hyperplaneSig`/`annTopK`: random-hyperplane LSH (Charikar) with
  *    multiple hash tables. Candidates come from grouping the signature
  *    rows by (table, signature) bucket and emitting in-bucket id pairs —
  *    signatures are computed ONCE and the only wide exchange is the
  *    bucket groupBy; id pairs are deduped before any 64-dim vector is
  *    re-attached. The scale path for 10⁹ vectors: signature buckets ARE
  *    the partitioner.
  *
  * Top-k selection everywhere is [[graft.agg.TopKAgg]] — a bounded
  * partial-aggregating top-k, so the candidate→result step shuffles
  * `n × k` rows, never the full candidate set (a window row_number over
  * all pairs would).
  *
  * The inner product is the custom codegen'd [[graft.expr.DotProduct]]
  * expression (a strict in-order fold — deterministic in any engine); all
  * float inputs are cast to double before any arithmetic.
  */
object Similarity {

  /** (vec_id, e: double[], norm) projection. A NULL embedding row is
    * EXCLUDED — there is nothing to compare or index for it, and it
    * would otherwise NPE every typed collect downstream (fuzz gate,
    * nulls mode); oracles mirror with `WHERE embedding IS NOT NULL`. */
  def prep(emb: DataFrame): DataFrame = {
    val e = expr("transform(embedding, x -> cast(x AS double))")
    emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), e.as("e"))
      .withColumn("norm", sqrt(dot(col("e"), col("e"))))
  }

  /** Cosine with the zero-vector contract ([[graft.expr.Cosine.of]]):
    * a zero-norm side has no direction, so its similarity to ANYTHING
    * is 0.0 — never NaN, never an ANSI division-by-zero crash (zero
    * vectors DO occur in real corpora: dead embeddings, padded rows).
    * Found by the differential fuzz gate (edge-mode zero vectors took
    * down the whole ANN family under ANSI mode). */
  def cosine(dotCol: Column, na: Column, nb: Column): Column =
    graft.expr.Cosine.cosine(dotCol, na, nb)

  /** (vec_id, rank, nb_id, cos_r) from candidate pair rows carrying a
    * `cos` column — bounded top-k agg + posexplode, ordering identical to
    * row_number over (cos desc, nb_id asc). */
  private[sim] def topKSelect(pairs: DataFrame, k: Int): DataFrame =
    pairs.groupBy("vec_id")
      .agg(TopKAgg.topK(k)(col("cos"), col("nb_id")).as("nn"))
      .select(col("vec_id"), posexplode(col("nn")).as(Seq("p", "nb")))
      .select(col("vec_id"), (col("p") + 1).cast("int").as("rank"),
        col("nb._2").as("nb_id"), round(col("nb._1"), 6).as("cos_r"))

  /** Exact top-k cosine neighbors per vector. The pair generator is a
    * broadcast nested-loop (B side is only ids+vectors); all pairs for one
    * vec_id stay in one partition, so the partial top-k is already final
    * on the map side — the shuffle moves n×k rows.
    *
    * The probe side is RESPREAD to the session's parallelism first: NLJ
    * parallelism equals the stream side's partition count, and a
    * compactly-written embeddings table arrives as ONE input split —
    * without the respread the whole n² scoring pass runs on one core
    * (measured: the 10x scale soak pinned a 20k-vector corpus to a
    * single task for minutes; with it, the same pass fans out to every
    * core and the round-robin exchange moves only n id+vector rows). */
  def cosineTopK(emb: DataFrame, k: Int = 5): DataFrame = {
    val v = prep(emb)
    val para = emb.sparkSession.sparkContext.defaultParallelism
    val a = v.repartition(para)
      .select(col("vec_id"), col("e").as("ea"), col("norm").as("na"))
    val b = v.select(col("vec_id").as("nb_id"), col("e").as("eb"),
      col("norm").as("nb"))
    val pairs = a.join(b, col("vec_id") =!= col("nb_id"))
      .withColumn("cos", cosine(dot(col("ea"), col("eb")), col("na"), col("nb")))
    topKSelect(pairs, k)
  }

  val NumTables = 8     // independent hash tables (recall knob)
  // planes per table (selectivity knob; grow with n: candidate work per
  // table is ~n²/2^bits, so bits ≈ log2(n/targetBucket)). 6 bits → 64
  // buckets/table; with 8 tables the union recall stays useful while the
  // per-table candidate set shrinks 4× vs 4 bits.
  val BitsPerTable = 6

  /** Deterministic hyperplane weights: component c of plane h is
    * hexdigit(md5("h|c")[0]) − 7.5 ∈ {−7.5 … 7.5}. Same values computable
    * as literals in any engine's SQL. */
  def planes(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dim) { (h, c) =>
      val hex = mdt.digest(s"$h|$c".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      "0123456789abcdef".indexOf(hex.charAt(0)) - 7.5
    }
  }

  /** Multi-table bucket keys: one (tbl, sig) row per table per vector.
    * Single-table LSH has poor recall on near-orthogonal data (measured
    * ~2% rank-1 on random 64-dim vectors with 4-bit tables); `NumTables`
    * independent tables union their candidates (Indyk–Motwani E2LSH
    * design), trading candidate volume back for recall. */
  def hyperplaneSig(emb: DataFrame, numTables: Int = NumTables,
                    bitsPerTable: Int = BitsPerTable,
                    dim: Int = 64): DataFrame = {
    val ps = planes(numTables * bitsPerTable, dim)
    val v = prep(emb)
    val tableCols = (0 until numTables).map { t =>
      // Long bit positions: bitsFor() grows with log2(n), and an Int
      // `1 << b` silently wraps at b ≥ 32 — distinct planes would
      // collide onto one signature bit at exactly the corpus sizes the
      // knob targets. Long holds every clamped width (bitsFor ≤ 62).
      val sig = (0 until bitsPerTable).map { b =>
        val plane = array(ps(t * bitsPerTable + b).map(w => lit(w)).toIndexedSeq: _*)
        when(dot(col("e"), plane) >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), sig.as("sig"))
    }
    v.select(col("vec_id"), explode(array(tableCols: _*)).as("ts"))
      .select(col("vec_id"), col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))
  }

  /** Directed in-bucket candidate id pairs from grouped key rows: one
    * groupBy on the bucket key, pairs generated from the collected id list
    * (both directions), deduped — the input (signatures, shingle hashes…)
    * is scanned once, vs twice for a self-join. Buckets are assumed small
    * relative to a task (LSH's contract); a pathological all-equal bucket
    * degenerates quadratically in either formulation. */
  private[sim] def bucketPairs(keyed: DataFrame, keyCols: Seq[String],
                               idCol: String = "vec_id",
                               dedup: Boolean = true,
                               maxBucket: Option[Int] = None): DataFrame = {
    // maxBucket caps the per-bucket GROUP SIZE before any pair is
    // emitted (a bucket of g ids emits ~g² pairs — one pathological
    // bucket of near-identical vectors would quadratically dominate);
    // over-cap buckets emit NOTHING, and the multi-table union keeps
    // recall for everything genuinely close. Same guard as the text
    // family's groupedPairs(maxGroup).
    val pairs = keyed.groupBy(keyCols.map(col): _*)
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1 &&
        maxBucket.map(c => size(col("ids")) <= c).getOrElse(lit(true)))
      .select(explode(expr(
        """flatten(transform(ids, x ->
          |  filter(transform(ids, y -> struct(x AS a, y AS b)),
          |         p -> p.a != p.b)))""".stripMargin)).as("p"))
      .select(col("p.a").as("vec_id"), col("p.b").as("nb_id"))
    if (dedup) pairs.distinct() else pairs
  }

  /** Embedding-cosine near-duplicate pairs (the dedup-family member over
    * vectors): LSH buckets propose candidates, the exact cosine confirms
    * — i.e. MinHash-LSH dedup transplanted to embedding space. Returns
    * undirected (keep_id < dup_id) pairs with cosine ≥ threshold; recall
    * is the LSH union-recall, the standard at-scale trade (brute force
    * for exhaustive dedup is the `cosineTopK` shape). */
  def nearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val cand = bucketPairs(hyperplaneSig(emb), Seq("tbl", "sig"))
      .filter(col("vec_id") < col("nb_id"))
    val v = prep(emb)
    val (va, vb) = reattachSides(v)
    cand.join(va, "vec_id").join(vb, "nb_id")
      .withColumn("cos", cosine(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_id").as("keep_id"), col("nb_id").as("dup_id"),
        round(col("cos"), 6).as("cos_r"))
  }

  /** The two (id → vector, norm) sides for re-attaching vectors to a
    * deduped ids-only candidate set. The vector table is O(n), so an
    * UNCONDITIONAL `broadcast()` hint would be honored by Spark regardless
    * of size and OOM the driver at 10⁹ vectors. Instead the hint is GATED
    * on the scan's own size statistic vs the session's
    * `autoBroadcastJoinThreshold` (2× headroom for the float→double
    * widening): under it, the hint only restores what CBO would choose
    * with perfect stats (the post-transform plan hides the scan estimate);
    * over it — or when broadcasting is disabled — the sides stay unhinted
    * and the join keys on the id, a plain shuffle-hash/sort-merge join,
    * which is exactly right because the candidate side is already deduped
    * ids-only. */
  private[sim] def reattachSides(v: DataFrame): (DataFrame, DataFrame) = {
    import graft.ops.PlanHints.gatedBroadcast
    (gatedBroadcast(
      v.select(col("vec_id"), col("e").as("ea"), col("norm").as("na"))),
      gatedBroadcast(v.select(col("vec_id").as("nb_id"), col("e").as("eb"),
        col("norm").as("nb"))))
  }

  /** LSH-bucketed ANN: candidate id-pairs per (table, signature) bucket,
    * deduped BEFORE vectors are re-attached — the shuffles move only ids,
    * and the quadratic work happens only within buckets.
    *
    * `bitsPerTable` is the SCALE knob: expected bucket size is n/2^bits,
    * so in-bucket pair work is ~numTables · n²/2^bits — bits must grow
    * with log2(n) to keep the per-bucket density (and hence total work)
    * linear in n. The default (6 bits) is sized for the contract corpus;
    * for a production corpus use [[annTopKAuto]] or pass
    * `bitsPerTable = bitsFor(n)` explicitly. `maxBucket` additionally
    * hard-caps any single pathological bucket (near-identical vectors
    * collapse into one signature — a density no bit count fixes). */
  def annTopK(emb: DataFrame, k: Int = 3,
              numTables: Int = NumTables,
              bitsPerTable: Int = BitsPerTable,
              maxBucket: Option[Int] = None): DataFrame = {
    val cand = bucketPairs(
      hyperplaneSig(emb, numTables, bitsPerTable), Seq("tbl", "sig"),
      maxBucket = maxBucket)
    val v = prep(emb)
    val (va, vb) = reattachSides(v)
    val pairs = cand.join(va, "vec_id").join(vb, "nb_id")
      .withColumn("cos", cosine(dot(col("ea"), col("eb")), col("na"), col("nb")))
    topKSelect(pairs, k)
  }

  /** Bits needed to hold the expected bucket near `targetBucket` ids at
    * corpus size `n` — the log2(n) growth the scale story requires.
    * Clamped to 62 so the Long signature in [[hyperplaneSig]] never
    * overflows (62 bits ≈ 1.5e17 × targetBucket vectors — past any
    * real corpus; the clamp is a formal bound, not a practical one). */
  def bitsFor(n: Long, targetBucket: Int = 32): Int =
    math.min(62, math.max(BitsPerTable,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt))

  /** [[annTopK]] with the signature width sized from a one-pass count —
    * what a caller should reach for when the corpus size isn't known at
    * plan-authoring time. The count is a cheap metadata-ish scan next to
    * the candidate generation it right-sizes. */
  def annTopKAuto(emb: DataFrame, k: Int = 3,
                  targetBucket: Int = 32,
                  maxBucket: Option[Int] = Some(4096)): DataFrame =
    annTopK(emb, k, NumTables, bitsFor(emb.count(), targetBucket),
      maxBucket)
}
