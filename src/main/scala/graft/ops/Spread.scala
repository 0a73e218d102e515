package graft.ops

import org.apache.spark.sql.DataFrame

/** Widen-only respread for compute-heavy consumers of narrow scans.
  *
  * The bench/test corpora are single-row-group parquet files, so every
  * scan stage is ONE task and all per-row work chained onto it (hashing,
  * sketches, MLlib iterations, explode fan-outs) runs serially on one
  * core while the other 31 idle (guide §2.5: input parallelism). This
  * helper repartitions to the session's default parallelism ONLY when
  * the plan is narrower than half of it — on production inputs whose
  * split count already meets or exceeds the cluster (100 TB = thousands
  * of splits) it is a no-op and never adds a shuffle. Same heuristic as
  * TextOps.spread (r11), shared here for the non-text operators.
  *
  * Never use on a path whose ORACLE-compared output is a rounded
  * float sum at the query's precision boundary — repartitioning
  * reassociates the sum (check.py's float-close flag guards this). */
object Spread {
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

  /** Explicit-width keyed exchange in front of a groupBy whose OUTPUT
    * stage carries a pair/variant fan-out: REPARTITION_BY_NUM is exempt
    * from AQE coalescing, so the declared width sticks where AQE's
    * size-based coalescing — blind to downstream fan-out — would pack
    * the byte-small bucket table into one partition and serialize the
    * n² work. max(cores, configured shuffle width) never narrows the
    * production exchange. */
  def fanoutExchange(df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val s = df.sparkSession
    val width = math.max(s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    df.repartition(width, keys: _*)
  }

  /** Run `body` with the shuffle width DERIVED FROM THE BATCH SIZE —
    * for foreachBatch bodies, where AQE is disabled (Spark refuses it
    * for streaming plans) and every join/distinct/groupBy otherwise
    * keeps the full configured width: dozens of near-empty tasks per
    * shuffle per micro-batch. Width = ceil(rows / 64k) capped at the
    * session width — identical to today at production micro-batch
    * sizes (millions of rows), adaptive below; never a constant tuned
    * to either local mode or the cluster. Restores the previous width
    * on exit. Callers are writer-lease-serialized, so the session conf
    * mutation cannot race another batch. */
  def withBatchWidth[T](sp: org.apache.spark.sql.SparkSession,
      rows: => Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = sp.conf.get(key)
    // saturate: a caller whose size probe failed passes Long.MaxValue
    // ("unknown, keep full width") — the naive +65535 would overflow
    // negative and clamp the width to 1, serializing the shuffle
    val prevW = prev.toLong
    val w =
      if (rows >= prevW * 65536L) prevW
      else math.max(1L, math.min(prevW, (rows + 65535) / 65536))
    sp.conf.set(key, w.toString)
    try body finally sp.conf.set(key, prev)
  }

  /** Width for an exchange hash-keyed on a cell/slot id with at most
    * `bound` distinct values: no point in more partitions than keys
    * (the rest are empty tasks, and AQE cannot coalesce them inside
    * foreachBatch). Caps at the session width, so production cell
    * counts are unaffected. */
  def cellWidth(sp: org.apache.spark.sql.SparkSession, bound: Int): Int = {
    val cur = sp.conf.get("spark.sql.shuffle.partitions", "32").toInt
    math.min(math.max(bound, 1), cur)
  }

  /** Deliberate respread for EXPLODE-FAN-OUT consumers (the BNLJ-stream
    * doctrine, r11): when per-row downstream work dwarfs the row itself
    * (deletion-variant explosion, n-gram fan-out), AQE's size-based
    * coalescing is blind to it and will pack a byte-tiny input into one
    * partition, serializing the fan-out. `repartition(n)` is
    * REPARTITION_BY_NUM, which AQE never coalesces, so the declared
    * width sticks. Never shrinks: at production width this keeps the
    * larger existing partitioning. */
  def force(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val cur = df.rdd.getNumPartitions
    if (cur < target) df.repartition(target) else df
  }
}
