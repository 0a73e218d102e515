package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** All-pairs Pearson correlation.
  *
  * Reference: `core/correlation/CorrelationMapper.java:157-250` accumulates
  * per-row outer products of xySum/xxSum/yySum arrays, combined in a reducer
  * (`CorrelationReducer.java:89-120`) — O(n·k²) work shipped through MR.
  *
  * Spark design: unpivot each PAIR once with `stack` (k² rows per input row
  * but one scan, map-side partial agg reduces to k² tiny partials before the
  * shuffle), then the closed-form Pearson from raw sums:
  * r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)).
  *
  * Two physical paths behind one API, dispatched on k:
  *  - stack unpivot (below `wideK` columns): k² rows per input row but one
  *    scan with map-side partial agg — fine for tens of columns and
  *    SQL-mirrorable for the oracle.
  *  - gramian ([[pearsonGramian]], ≥ `wideK`): `ml.stat.Correlation` over
  *    one assembled vector — ONE pass accumulating a k×k co-moment matrix
  *    per partition (BLAS), no row blowup at all. This is the
  *    hundreds-of-candidate-columns regime of the reference
  *    (`core/correlation/FastCorrelationMapper.java` ships the same k×k
  *    partial arrays through MR); at 100 TB the k² row expansion of the
  *    stack form in the scan stage is real, the gramian's k²-sized partial
  *    per partition is not.
  */
object Correlation {

  /** Backtick-quote an identifier for splicing into a parsed SQL string
    * (stack() exprs below): a name like "a|b" must not parse as a
    * bitwise-OR of columns a and b, and spaces/leading digits must not
    * break the parse. Embedded backticks double per the SQL rule. */
  private def qid(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Single-quoted SQL string literal with backslash escaping (Spark's
    * default literal syntax) — pair labels carry raw column names. */
  private def qlit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** The closed-form Pearson r (see the object doc) over one stacked
    * pair's (x, y) rows, rounded to 6 — the aggregate of both stack
    * paths. */
  private def pearsonAgg: Column = round(
    (count(lit(1)) * sum(col("x") * col("y")) - sum("x") * sum("y")) /
      sqrt((count(lit(1)) * sum(col("x") * col("x")) - sum("x") * sum("x")) *
           (count(lit(1)) * sum(col("y") * col("y")) - sum("y") * sum("y"))),
    6).as("corr")

  /** Pairwise Pearson over the given numeric columns; output
    * (pair, corr) rounded to 6, pair = "a|b" with a before b in `cols`.
    * Dispatches to the gramian single-pass path at `wideK`+ columns. */
  def pearson(df: DataFrame, cols: Seq[String], wideK: Int = 16): DataFrame = {
    require(cols.length >= 2,
      s"pearson needs >= 2 numeric columns, got ${cols.length}")
    if (cols.length >= wideK) pearsonGramian(df, cols)
    else pearsonStack(df, cols)
  }

  /** [[pearson]] with the pair carried as TWO fields (col_a, col_b, corr)
    * instead of an "a|b" label — for programmatic callers
    * ([[graft.pipeline.Pipeline.autoFilter]]): a column name may legally
    * contain '|', which would corrupt a label split. Same dispatch and
    * rounding as [[pearson]]. */
  def pearsonPairs(df: DataFrame, cols: Seq[String],
                   wideK: Int = 16): DataFrame = {
    require(cols.length >= 2,
      s"pearson needs >= 2 numeric columns, got ${cols.length}")
    val spark = df.sparkSession
    import spark.implicits._
    if (cols.length >= wideK) {
      gramianUpper(df, cols)
        .map { case (i, j, r) => (cols(i), cols(j), r) }
        .toDF("col_a", "col_b", "corr")
    } else {
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.length
      } yield (cols(i), cols(j))
      // double cast inside the unpivot — same int-product wrap guard
      // as pearsonStack (the gramian path already computes in double)
      val stackExpr = "stack(" + pairs.length + ", " +
        pairs.map { case (a, b) =>
          s"${qlit(a)}, ${qlit(b)}, CAST(${qid(a)} AS DOUBLE), " +
            s"CAST(${qid(b)} AS DOUBLE)" }.mkString(", ") +
        ") as (col_a, col_b, x, y)"
      df.select(expr(stackExpr))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .groupBy("col_a", "col_b")
        .agg(pearsonAgg)
    }
  }

  /** Wide-k path: assemble the columns into one ml vector and let
    * `ml.stat.Correlation` accumulate the gramian — a single scan whose
    * shuffle payload is one k×k matrix per partition, never k² rows. The
    * k×k result lands on the driver (k in the hundreds → a few MB) and the
    * upper triangle is re-emitted with the exact output schema of the
    * stack path (same pair labels, same HALF_UP 6-decimal rounding), so
    * the two paths are interchangeable to callers and oracles. */
  def pearsonGramian(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    gramianUpper(df, cols)
      .map { case (i, j, r) => (s"${cols(i)}|${cols(j)}", r) }
      .toDF("pair", "corr")
  }

  /** Shared gramian core: one `ml.stat.Correlation` pass, upper-triangle
    * (i, j, corr) index triples with the stack path's HALF_UP 6-decimal
    * rounding. Empty when no fully-complete row exists. */
  private def gramianUpper(df: DataFrame,
                           cols: Seq[String]): Seq[(Int, Int, Double)] = {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.stat.{Correlation => MlCorrelation}
    // handleInvalid=skip: rows with ANY null column are dropped (LISTWISE
    // deletion) rather than throwing. NOTE the null semantics differ from
    // the stack path, which is PAIRWISE-complete (each pair uses every
    // row where both ITS columns are present) — on null-free data the
    // paths agree exactly; with nulls, listwise uses fewer rows per pair.
    // Callers that can see nulls should impute/drop consistently BEFORE
    // dispatch (autoFilter mean-imputes from the catalog) so the physical
    // path never changes the answer. Degenerate case: zero fully-complete
    // rows → empty result (callers treat as "no correlations computable").
    val assembled = new VectorAssembler()
      .setInputCols(cols.toArray).setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(df.select(cols.map(c => col(c).cast("double").as(c)): _*))
      .select("features")
    if (assembled.isEmpty) return Seq.empty
    // the same single gramian pass MLlib's Correlation.corr runs
    // (RowMatrix.computeCovariance), but with the covariance→correlation
    // conversion done here so DEGENERATE columns keep honest semantics:
    // an overflowed (Inf) or constant (0) variance makes the pair's
    // correlation NaN — MLlib's converter instead coerces them to 0.0
    // ("uncorrelated", which is a different claim), and the one-formula
    // oracle arithmetic lands on NaN/NULL for exactly these (fuzz gate)
    val rm = new org.apache.spark.mllib.linalg.distributed.RowMatrix(
      assembled.rdd.map(r => org.apache.spark.mllib.linalg.Vectors.fromML(
        r.getAs[org.apache.spark.ml.linalg.Vector](0))))
    val cov = rm.computeCovariance()
    val sig = cols.indices.map(i => math.sqrt(cov(i, i)))
    for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield (i, j, StatsMath.round(
      // an overflowed σ (Inf) must surface as NaN-undefined, not as
      // finite/Inf = 0.0 "uncorrelated" — the oracle's one-formula
      // arithmetic lands on NaN via Inf − Inf
      if (!java.lang.Double.isFinite(sig(i)) ||
        !java.lang.Double.isFinite(sig(j))) Double.NaN
      else cov(i, j) / (sig(i) * sig(j)), 6))
  }

  /** Narrow-k stack-unpivot path (see object doc). */
  def pearsonStack(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield (cols(i), cols(j))
    // cast to double INSIDE the unpivot: the gramian path already
    // computes in double, and sum(x*y) over raw IntegerType columns
    // multiplies in int — wrapping silently around 2^31 and corrupting
    // r on integer data below the wideK dispatch threshold
    val stackExpr = "stack(" + pairs.length + ", " +
      pairs.map { case (a, b) =>
        s"${qlit(s"$a|$b")}, CAST(${qid(a)} AS DOUBLE), " +
          s"CAST(${qid(b)} AS DOUBLE)" }.mkString(", ") +
      ") as (pair, x, y)"
    df.select(expr(stackExpr))
      // pairwise-complete: every aggregate (including n) must range over
      // exactly the rows where BOTH of the pair's columns are present —
      // without this filter n counted ALL rows while the sums skipped
      // nulls, corrupting r whenever a column had missing values
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy("pair")
      .agg(pearsonAgg)
  }
}
