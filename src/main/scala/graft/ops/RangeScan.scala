package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** The engine's one distributed total order, behind every offset-ranking
  * operator (bucket sweep, rank AUC, rank counts, weighted bounds, exact
  * quantiles). A global `row_number()`/`ntile()` window funnels every row
  * through one partition; instead [[sorted]] range-partitions and sorts
  * within partitions, and [[prefixed]] gives each partition the fold of
  * the partitions before it: job 1 returns one summary per partition,
  * the driver folds them in partition order, job 2 runs the caller's
  * `emit(prefix, rows)`. A task of job 2 receives only its own prefix
  * (one element of a partition-aligned collection zipped with the rows),
  * never the offsets of every partition. */
private[graft] object RangeScan {

  /** The partition count of `df`, the callers' scan width, read without
    * running `df`. Under AQE, `df.rdd` runs every exchange of the plan
    * as its own job just to report the count, and the scan built over
    * `df` then runs it again. So the RDD is asked only when the plan has
    * no exchange, which builds it with no job; otherwise the physical
    * plan's declared output partitioning gives the count, or the
    * session's shuffle width where the plan declares none. */
  def width(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    if (!plan.exists(_.isInstanceOf[Exchange])) df.rdd.getNumPartitions
    else plan.outputPartitioning.numPartitions match {
      case n if n > 0 => n
      case _ => df.sparkSession.sessionState.conf.numShufflePartitions
    }
  }

  /** `df` range-partitioned on `order` into `parts` ordered partitions,
    * sorted within each, every row decoded once by `decode` (which must
    * copy what it keeps: the internal row is reused). Sampling the range
    * bounds is one job; under AQE the shuffle's map stage runs as its
    * own job when the RDD is built. */
  def sorted[T: ClassTag](df: DataFrame, order: Seq[Column], parts: Int)(
      decode: InternalRow => T): RDD[T] =
    df.repartitionByRange(math.max(parts, 1), order: _*)
      .sortWithinPartitions(order: _*)
      .queryExecution.toRdd.map(decode)

  /** Run `body` over the exclusive prefixes of `rows`: each partition's
    * `summary`, folded with `plus` from `zero`. `rows` stays cached for
    * the call only — released when `body` returns or throws — so `body`
    * runs job 2 itself; an RDD it returns unexecuted recomputes the
    * sorted rows from the shuffle output. */
  def prefixed[T: ClassTag, S: ClassTag, R](rows: RDD[T], zero: S)(
      plus: (S, S) => S, summary: Iterator[T] => S)(
      body: Prefixes[T, S] => R): R = {
    rows.cache()
    try {
      // collect keeps partition order, i.e. range order
      val sums = rows.mapPartitions(it => Iterator.single(summary(it)))
        .collect()
      body(new Prefixes(rows, sums.scanLeft(zero)(plus)))
    } finally { rows.unpersist(false); () }
  }

  /** `prefixes(i)` folds partitions 0 until i; the last is the total. */
  final class Prefixes[T: ClassTag, S: ClassTag] private[RangeScan] (
      rows: RDD[T], prefixes: Array[S]) {

    def total: S = prefixes.last

    /** `f(prefix of partition i, rows of partition i)` per partition. */
    def emit[U: ClassTag](f: (S, Iterator[T]) => Iterator[U]): RDD[U] = {
      val n = rows.getNumPartitions
      if (n == 0) rows.sparkContext.emptyRDD[U]
      else rows.sparkContext.parallelize(prefixes.init.toSeq, n)
        .zipPartitions(rows)((p, it) => f(p.next(), it))
    }
  }
}
