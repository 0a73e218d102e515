package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar int8 quantization of embedding columns (faiss SQ8-style): the
  * memory-compression path a 100-TB ANN corpus needs — 4× smaller vector
  * payloads for the re-attach/scoring stages, at a bounded reconstruction
  * error (< range/256 per dimension).
  *
  * Two stages, both scale-shaped:
  *  1. [[ranges]] — per-DIMENSION min/max over the corpus. One
  *     aggregation with map-side partial combine on `dim` keys: the
  *     shuffle moves ≤ `dims` rows per partition regardless of corpus
  *     size, and the result (2·dims doubles) lands on the driver as the
  *     trained quantizer.
  *  2. [[quantizeInt8]] — codes each vector against the broadcast-literal
  *     ranges as a pure `transform` expression: a zero-shuffle narrow map
  *     (no UDF, stays inside whole-stage codegen).
  *
  * All arithmetic is IEEE-double with a fixed operation order and the
  * bucket cut is `floor` (never round — engines disagree on .5 ties), so
  * codes are engine-exact and oracle-checkable. A degenerate dimension
  * (max == min) codes to 0.
  */
object Quantize {

  /** Per-dimension (lo, hi) over the corpus; `dims` must match the
    * embedding length. Missing dimensions (never observed) default to
    * (0, 0) — degenerate, codes to 0. */
  def ranges(emb: DataFrame, dims: Int,
             embCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val rows = emb
      .select(posexplode(col(embCol)).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(min(col("v").cast("double")).as("lo"),
        max(col("v").cast("double")).as("hi"))
      .collect() // ≤ dims rows — driver math, corpus-independent
    val lo = Array.fill(dims)(0.0)
    val hi = Array.fill(dims)(0.0)
    rows.foreach { r =>
      val d = r.getInt(0)
      if (d < dims) { lo(d) = r.getDouble(1); hi(d) = r.getDouble(2) }
    }
    (lo, hi)
  }

  /** Code expression for one vector column against literal ranges:
    * `q_d = min(floor((v_d − lo_d) / (hi_d − lo_d) · 256), 255)`, clamped
    * to [0, 255] (stored as int; the int8 byte is `q − 128`, kept
    * unsigned here so the oracle compare stays sign-free). */
  def codeExpr(embCol: Column, lo: Array[Double],
               hi: Array[Double]): Column = {
    val loLit = array(lo.toIndexedSeq.map(lit(_)): _*)
    val hiLit = array(hi.toIndexedSeq.map(lit(_)): _*)
    // transform's (x, i) lambda: i is the 0-based dim; element_at is
    // 1-based into the literal range arrays
    transform(embCol, (x, i) => {
      val l = element_at(loLit, i + 1)
      val h = element_at(hiLit, i + 1)
      when(h === l, lit(0L)).otherwise(
        greatest(lit(0L), least(
          floor((x.cast("double") - l) / (h - l) * lit(256.0)).cast("long"),
          lit(255L))))
    })
  }

  /** Quantize a corpus: (idCol, codes array<long>) — zero-shuffle narrow
    * map against the broadcast-literal ranges. */
  def quantizeInt8(emb: DataFrame, lo: Array[Double], hi: Array[Double],
                   idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame =
    emb.select(col(idCol), codeExpr(col(embCol), lo, hi).as("codes"))

  /** Dequantize codes back to doubles (bucket centers):
    * `v̂_d = lo_d + (q_d + 0.5) / 256 · (hi_d − lo_d)` — reconstruction
    * error is bounded by half a bucket, range/512. */
  def dequantExpr(codesCol: Column, lo: Array[Double],
                  hi: Array[Double]): Column = {
    val loLit = array(lo.toIndexedSeq.map(lit(_)): _*)
    val hiLit = array(hi.toIndexedSeq.map(lit(_)): _*)
    transform(codesCol, (q, i) => {
      val l = element_at(loLit, i + 1)
      val h = element_at(hiLit, i + 1)
      l + (q.cast("double") + lit(0.5)) / lit(256.0) * (h - l)
    })
  }

  /** Binary (sign) quantization — the 1-bit/dim end of the compression
    * ladder (SQ8 is 8): bit d is set iff `v_d ≥ 0`, packed little-endian
    * into ⌈dims/64⌉ longs, so a 64-dim embedding collapses to ONE
    * BIGINT (64× smaller than float32). Hamming distance over the codes
    * is the standard proxy metric (it equals the count of
    * sign-disagreeing dimensions), cheap enough to make compressed
    * brute-force viable and bucketable through the banded-hamming
    * machinery ([[graft.text.TextOps.hashBandPairs]], same as SimHash /
    * image aHash) when even that is too much. Entirely deterministic —
    * no trained codebook — so codes AND neighbor ranks are engine-exact
    * and oracle-checkable, unlike the k-means family. Zero-shuffle
    * narrow map, stays in whole-stage codegen. */
  def binarizeExpr(embCol: Column, dims: Int): Column = {
    require(dims > 0, s"dims must be positive, got $dims")
    val words = (dims + 63) / 64
    val wordCols = (0 until words).map { w =>
      (0 until math.min(64, dims - w * 64)).map { b =>
        when(element_at(embCol, w * 64 + b + 1).cast("double") >= 0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce[Column](_ bitwiseOR _)
    }
    array(wordCols: _*)
  }

  /** Binarize a corpus: (idCol, code array<long>). */
  def binarize(emb: DataFrame, dims: Int, idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame =
    emb.select(col(idCol), binarizeExpr(col(embCol), dims).as("code"))

  /** Exact top-k neighbors under the binary-code Hamming metric:
    * (vec_id, rank, nb_id, dist), ties broken by nb_id ascending —
    * fully deterministic, so the WHOLE ANN result is value-checkable
    * cross-engine. Pair generation is the compressed brute-force
    * (the codes are 64× smaller than the float vectors, which is what
    * makes the n² scan viable far past the float budget); selection is
    * the bounded [[graft.agg.TopKAgg]] (shuffle moves n×k rows, never
    * the pair set). For sublinear candidate generation feed the codes
    * to the banded-hamming bucket path instead. */
  def hammingTopK(emb: DataFrame, dims: Int, k: Int = 3): DataFrame = {
    val words = (dims + 63) / 64
    // NULL embeddings have no sign bits — excluded like every
    // similarity op (Similarity.prep)
    val c = binarize(emb.filter(col("embedding").isNotNull), dims)
    // flatten code words to scalar columns so the hot pair loop carries
    // longs, not arrays, and stays in whole-stage codegen.
    // The probe side RESPREADS first: NLJ parallelism = stream-side
    // partition count, and a compactly-written table is ONE split — the
    // same single-core n² landmine the 10x soak caught in cosineTopK
    val para = emb.sparkSession.sparkContext.defaultParallelism
    val a = c.repartition(para)
      .select(col("vec_id") +: (0 until words).map(w =>
      element_at(col("code"), w + 1).as(s"ca$w")): _*)
    val b = c.select(col("vec_id").as("nb_id") +: (0 until words).map(w =>
      element_at(col("code"), w + 1).as(s"cb$w")): _*)
    val dist = (0 until words).map(w =>
      bit_count(col(s"ca$w").bitwiseXOR(col(s"cb$w"))).cast("long"))
      .reduce(_ + _)
    val pairs = a.join(b, col("vec_id") =!= col("nb_id"))
      .withColumn("dist", dist)
    pairs.groupBy("vec_id")
      .agg(graft.agg.TopKAgg.topK(k)(-col("dist").cast("double"),
        col("nb_id")).as("nn"))
      .select(col("vec_id"), posexplode(col("nn")).as(Seq("p", "nb")))
      .select(col("vec_id"), (col("p") + 1).cast("int").as("rank"),
        col("nb._2").as("nb_id"), (-col("nb._1")).cast("long").as("dist"))
  }
}
