package graft

import org.apache.spark.sql.functions._

import graft.eval.Eval
import graft.expr.Jexl
import graft.ops.{AutoType, Correlation, Psi}

/** Eval / scoring / drift / typing queries (SURVEY §2.4, §2.7, §2.9). */
object QueriesEval {
  import QueryUtil._

  /** Common oracle CTE: bucketed confusion sweep over the row-local score
    * (ntile-10 over score desc with unique-key tie-break), cumulative
    * TP/FP/FN/TN — integer math end to end. */
  private val sweepCte =
    s"""s AS (
       |  SELECT CASE WHEN $posCond THEN 1 ELSE 0 END AS pos,
       |    ntile(10) OVER (ORDER BY $scoreSql DESC, l_orderkey, l_linenumber)
       |      AS bucket
       |  FROM lineitem),
       |pb AS (SELECT bucket, sum(pos) AS b_pos, count(*) AS b_n
       |       FROM s GROUP BY bucket),
       |c AS (SELECT bucket,
       |  sum(b_pos) OVER (ORDER BY bucket) AS tp,
       |  sum(b_n) OVER (ORDER BY bucket) - sum(b_pos) OVER (ORDER BY bucket) AS fp,
       |  sum(b_pos) OVER () - sum(b_pos) OVER (ORDER BY bucket) AS fn,
       |  (sum(b_n) OVER () - sum(b_pos) OVER ())
       |    - (sum(b_n) OVER (ORDER BY bucket)
       |       - sum(b_pos) OVER (ORDER BY bucket)) AS tn
       |FROM pb)""".stripMargin

  // ---- §2.7 confusion-matrix sweep (window cumsum, no driver stream) -------

  private val confusionSweep: Q = Q(
    fn = (s, dir) => Eval.confusionSweep(li(s, dir), scoreCol, isPos,
      Seq(col("l_orderkey"), col("l_linenumber"))),
    oracle = Some(
      s"""WITH $sweepCte
         |SELECT bucket, tp::BIGINT AS tp, fp::BIGINT AS fp,
         |  fn::BIGINT AS fn, tn::BIGINT AS tn FROM c
         |""".stripMargin))

  // ---- §2.7 operating points at fixed FPR (PerformanceEvaluator buckets) ---

  /** FPR-bucketed operating points (the reference's bucket-by-FPR view
    * of the same sweep): 100-bucket distributed sweep, then the first
    * bucket reaching each 10%-step FPR target. The oracle replays the
    * identical rule over its own ntile(100) cumulative table. */
  private val operatingPointsQ: Q = Q(
    fn = (s, dir) => Eval.operatingPoints(li(s, dir), scoreCol, isPos,
      Seq(col("l_orderkey"), col("l_linenumber"))),
    oracle = Some(
      s"""WITH s AS (
         |  SELECT CASE WHEN $posCond THEN 1 ELSE 0 END AS pos,
         |    ntile(100) OVER (ORDER BY $scoreSql DESC, l_orderkey,
         |      l_linenumber) AS bucket
         |  FROM lineitem),
         |pb AS (SELECT bucket, sum(pos) AS b_pos, count(*) AS b_n
         |       FROM s GROUP BY bucket),
         |c AS (SELECT bucket,
         |  sum(b_pos) OVER (ORDER BY bucket) AS tp,
         |  sum(b_n) OVER (ORDER BY bucket)
         |    - sum(b_pos) OVER (ORDER BY bucket) AS fp,
         |  sum(b_pos) OVER () - sum(b_pos) OVER (ORDER BY bucket) AS fn,
         |  (sum(b_n) OVER () - sum(b_pos) OVER ())
         |    - (sum(b_n) OVER (ORDER BY bucket)
         |       - sum(b_pos) OVER (ORDER BY bucket)) AS tn
         |FROM pb),
         |f AS (SELECT bucket, tp, fp, fn, tn,
         |        fp::DOUBLE / (fp + tn) AS fpr FROM c),
         |t AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90])
         |        AS target_pct),
         |sel AS (SELECT t.target_pct,
         |  (SELECT min(bucket) FROM f
         |   WHERE f.fpr >= t.target_pct / 100.0) AS bucket FROM t)
         |SELECT sel.target_pct::BIGINT AS target_pct,
         |  f.bucket::BIGINT AS bucket, f.tp::BIGINT AS tp,
         |  f.fp::BIGINT AS fp, f.fn::BIGINT AS fn, f.tn::BIGINT AS tn
         |FROM sel JOIN f USING (bucket)
         |""".stripMargin))

  /** Recall-bucketed dual (the reference's other bucketing mode). */
  private val recallPointsQ: Q = Q(
    fn = (s, dir) => Eval.recallPoints(li(s, dir), scoreCol, isPos,
      Seq(col("l_orderkey"), col("l_linenumber"))),
    oracle = Some(
      s"""WITH s AS (
         |  SELECT CASE WHEN $posCond THEN 1 ELSE 0 END AS pos,
         |    ntile(100) OVER (ORDER BY $scoreSql DESC, l_orderkey,
         |      l_linenumber) AS bucket
         |  FROM lineitem),
         |pb AS (SELECT bucket, sum(pos) AS b_pos, count(*) AS b_n
         |       FROM s GROUP BY bucket),
         |c AS (SELECT bucket,
         |  sum(b_pos) OVER (ORDER BY bucket) AS tp,
         |  sum(b_n) OVER (ORDER BY bucket)
         |    - sum(b_pos) OVER (ORDER BY bucket) AS fp,
         |  sum(b_pos) OVER () - sum(b_pos) OVER (ORDER BY bucket) AS fn,
         |  (sum(b_n) OVER () - sum(b_pos) OVER ())
         |    - (sum(b_n) OVER (ORDER BY bucket)
         |       - sum(b_pos) OVER (ORDER BY bucket)) AS tn
         |FROM pb),
         |f AS (SELECT bucket, tp, fp, fn, tn,
         |        tp::DOUBLE / (tp + fn) AS recall FROM c),
         |t AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90])
         |        AS target_pct),
         |sel AS (SELECT t.target_pct,
         |  (SELECT min(bucket) FROM f
         |   WHERE f.recall >= t.target_pct / 100.0) AS bucket FROM t)
         |SELECT sel.target_pct::BIGINT AS target_pct,
         |  f.bucket::BIGINT AS bucket, f.tp::BIGINT AS tp,
         |  f.fp::BIGINT AS fp, f.fn::BIGINT AS fn, f.tn::BIGINT AS tn
         |FROM sel JOIN f USING (bucket)
         |""".stripMargin))

  // ---- §2.7 ROC AUC (trapezoid over bucket boundaries) ---------------------

  private val rocAuc: Q = Q(
    fn = (s, dir) => Eval.rocAuc(Eval.confusionSweep(li(s, dir), scoreCol,
      isPos, Seq(col("l_orderkey"), col("l_linenumber")))),
    oracle = Some(
      s"""WITH $sweepCte,
         |r AS (SELECT bucket, fp::DOUBLE / (fp + tn) AS fpr,
         |             tp::DOUBLE / (tp + fn) AS tpr FROM c),
         |l AS (SELECT fpr, tpr,
         |        lag(fpr, 1, 0.0) OVER (ORDER BY bucket) AS fpr0,
         |        lag(tpr, 1, 0.0) OVER (ORDER BY bucket) AS tpr0
         |      FROM r)
         |SELECT round(sum((fpr - fpr0) * (tpr + tpr0) / 2), 6) AS auc
         |FROM l
         |""".stripMargin))

  // ---- §2.7 gain chart -----------------------------------------------------

  private val gainChart: Q = Q(
    fn = (s, dir) => Eval.gainChart(Eval.confusionSweep(li(s, dir), scoreCol,
      isPos, Seq(col("l_orderkey"), col("l_linenumber")))),
    oracle = Some(
      s"""WITH $sweepCte
         |SELECT bucket, tp::BIGINT AS tp, fp::BIGINT AS fp,
         |  fn::BIGINT AS fn, tn::BIGINT AS tn,
         |  round((tp + fp)::DOUBLE / (tp + fp + fn + tn), 6) AS action_rate,
         |  round(tp::DOUBLE / (tp + fn), 6) AS recall,
         |  round(tp::DOUBLE / (tp + fp), 6) AS precision,
         |  round((tp::DOUBLE / (tp + fn))
         |    / ((tp + fp)::DOUBLE / (tp + fp + fn + tn)), 6) AS lift
         |FROM c
         |""".stripMargin))

  // ---- §2.7 PR AUC (AreaUnderCurve.ofPr trapezoid) -------------------------

  private val prAuc: Q = Q(
    fn = (s, dir) => Eval.prAuc(Eval.confusionSweep(li(s, dir), scoreCol,
      isPos, Seq(col("l_orderkey"), col("l_linenumber")))),
    oracle = Some(
      s"""WITH $sweepCte,
         |r AS (SELECT bucket, tp::DOUBLE / (tp + fn) AS recall,
         |             tp::DOUBLE / (tp + fp) AS precision FROM c),
         |l AS (SELECT recall, precision,
         |        lag(recall, 1, 0.0) OVER (ORDER BY bucket) AS r0,
         |        lag(precision, 1) OVER (ORDER BY bucket) AS p0
         |      FROM r)
         |SELECT round(sum((recall - r0)
         |  * (precision + coalesce(p0, precision)) / 2), 6) AS pr_auc
         |FROM l
         |""".stripMargin))

  // ---- §2.7 weighted confusion sweep (PerformanceObject weighted duals) ----

  private val weightedSweep: Q = Q(
    fn = (s, dir) => Eval.weightedSweep(li(s, dir), scoreCol, isPos,
      col("l_quantity"), Seq(col("l_orderkey"), col("l_linenumber"))),
    oracle = Some(
      s"""WITH s AS (
         |  SELECT CASE WHEN $posCond THEN 1 ELSE 0 END AS pos,
         |    l_quantity AS w,
         |    ntile(10) OVER (ORDER BY $scoreSql DESC, l_orderkey, l_linenumber)
         |      AS bucket
         |  FROM lineitem),
         |pb AS (SELECT bucket, sum(pos) AS b_pos, count(*) AS b_n,
         |         sum(CASE WHEN pos = 1 THEN w ELSE 0.0 END) AS b_wpos,
         |         sum(w) AS b_w
         |       FROM s GROUP BY bucket),
         |c AS (SELECT bucket,
         |  sum(b_pos) OVER (ORDER BY bucket) AS tp,
         |  sum(b_n) OVER (ORDER BY bucket) - sum(b_pos) OVER (ORDER BY bucket) AS fp,
         |  sum(b_pos) OVER () - sum(b_pos) OVER (ORDER BY bucket) AS fn,
         |  (sum(b_n) OVER () - sum(b_pos) OVER ())
         |    - (sum(b_n) OVER (ORDER BY bucket)
         |       - sum(b_pos) OVER (ORDER BY bucket)) AS tn,
         |  sum(b_wpos) OVER (ORDER BY bucket) AS wtp,
         |  sum(b_w) OVER (ORDER BY bucket) - sum(b_wpos) OVER (ORDER BY bucket) AS wfp,
         |  sum(b_wpos) OVER () - sum(b_wpos) OVER (ORDER BY bucket) AS wfn,
         |  (sum(b_w) OVER () - sum(b_wpos) OVER ())
         |    - (sum(b_w) OVER (ORDER BY bucket)
         |       - sum(b_wpos) OVER (ORDER BY bucket)) AS wtn
         |FROM pb)
         |SELECT bucket, tp::BIGINT AS tp, fp::BIGINT AS fp, fn::BIGINT AS fn,
         |  tn::BIGINT AS tn, round(wtp, 4) AS wtp, round(wfp, 4) AS wfp,
         |  round(wfn, 4) AS wfn, round(wtn, 4) AS wtn
         |FROM c
         |""".stripMargin))

  // ---- §2.2 bagging subsample (BaggingSubsampleUDF, deterministic) ---------

  /** Row replicated into each of 3 bags that "accept" it — acceptance is
    * hex digit j+1 of md5(key) < 8, i.e. rate 0.5 per bag (the reference
    * uses `Random` per bag, `udf/BaggingSubsampleUDF.java:39-52`; hashing
    * keeps the oracle deterministic). */
  private val bagging: Q = Q(
    fn = (s, dir) => {
      val key = md5(concat(col("l_orderkey").cast("string"), lit("|"),
        col("l_linenumber").cast("string")).cast("binary"))
      val accept = "01234567".toSeq.map(_.toString)
      val bagArr = array((0 until 3).map { j =>
        when(substring(key, j + 1, 1).isin(accept: _*), lit(j))
          .otherwise(lit(null))
      }: _*)
      // respread the single-split scan before the 3x md5 + explode
      // fan-out (guide §2.5; no-op at production split counts)
      graft.ops.Spread.widen(
          li(s, dir).select("l_orderkey", "l_linenumber", "l_quantity"))
        .select(col("l_quantity"),
          explode(filter(bagArr, c => c.isNotNull)).as("bag_id"))
        .groupBy("bag_id")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
    },
    oracle = Some {
      // single-line WHERE: this fragment is embedded in an outer
      // stripMargin string, where a continuation line starting with `||`
      // would lose a pipe
      val per = (0 until 3).map { j =>
        s"SELECT $j AS bag_id, l_quantity FROM lineitem " +
          s"WHERE substr(md5(cast(l_orderkey AS VARCHAR) || '|' || " +
          s"cast(l_linenumber AS VARCHAR)), ${j + 1}, 1) " +
          "IN ('0','1','2','3','4','5','6','7')"
      }.mkString("\nUNION ALL\n")
      s"""WITH u AS (
         |$per)
         |SELECT bag_id, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
         |FROM u GROUP BY bag_id
         |""".stripMargin
    })

  // ---- §2.2 negative-only sampling (sampleNegOnly) -------------------------

  /** Keep every positive, sample ~25% of negatives by md5 digit — the
    * reference's `sampleNegOnly` path (`udf/AddColumnNumUDF.java:110-120`),
    * deterministic for the oracle. */
  private val sampleNegOnly: Q = Q(
    fn = (s, dir) => {
      val key = md5(concat(col("l_orderkey").cast("string"), lit("|"),
        col("l_linenumber").cast("string")).cast("binary"))
      li(s, dir)
        .filter(isPos || substring(key, 1, 1).isin("0", "1", "2", "3"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
    },
    oracle = Some(
      s"""SELECT l_returnflag, count(*) AS n,
         |  round(sum(l_quantity), 4) AS sum_qty
         |FROM lineitem
         |WHERE $posCond OR substr(md5(cast(l_orderkey AS VARCHAR) || '|'
         |  || cast(l_linenumber AS VARCHAR)), 1, 1) IN ('0','1','2','3')
         |GROUP BY l_returnflag
         |""".stripMargin))

  // ---- §2.7 score status counters (runDistScore) ---------------------------

  private val scoreStats: Q = Q(
    fn = (s, dir) => li(s, dir).agg(
      sum(when(isPos, 1L).otherwise(0L)).as("n_pos"),
      sum(when(isPos, 0L).otherwise(1L)).as("n_neg"),
      round(sum(when(isPos, col("l_quantity")).otherwise(0.0)), 4).as("w_pos"),
      round(sum(when(isPos, 0.0).otherwise(col("l_quantity"))), 4).as("w_neg"),
      max(scoreCol).as("max_score"),
      min(scoreCol).as("min_score"),
      round(sum(scoreCol) / count(lit(1)), 6).as("avg_score")),
    oracle = Some(
      s"""SELECT
         |  sum(CASE WHEN $posCond THEN 1 ELSE 0 END)::BIGINT AS n_pos,
         |  sum(CASE WHEN $posCond THEN 0 ELSE 1 END)::BIGINT AS n_neg,
         |  round(sum(CASE WHEN $posCond THEN l_quantity ELSE 0.0 END), 4) AS w_pos,
         |  round(sum(CASE WHEN $posCond THEN 0.0 ELSE l_quantity END), 4) AS w_neg,
         |  max($scoreSql) AS max_score,
         |  min($scoreSql) AS min_score,
         |  round(sum($scoreSql) / count(*), 6) AS avg_score
         |FROM lineitem
         |""".stripMargin))

  // ---- §2.4 PSI across population units ------------------------------------

  private val psi: Q = Q(
    fn = (s, dir) => {
      val d = li(s, dir)
      Psi.compute(d, col("l_quantity"), month(col("l_shipdate")),
        quantityBounds(d, binK))
    },
    oracle = Some(
      s"""WITH mm AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx
         |            FROM lineitem),
         |b AS (SELECT month(l_shipdate) AS unit, ${binCaseSql(binK)} AS bin_id
         |      FROM lineitem, mm),
         |counts AS (SELECT unit, bin_id, count(*) AS c FROM b
         |           GROUP BY unit, bin_id),
         |wa AS (SELECT unit, bin_id,
         |         c::DOUBLE / sum(c) OVER (PARTITION BY unit) AS a
         |       FROM counts),
         |g AS (SELECT bin_id, count(*) AS gc FROM b GROUP BY bin_id),
         |e AS (SELECT bin_id, gc::DOUBLE / sum(gc) OVER () AS e FROM g)
         |SELECT unit, round(sum(
         |  CASE WHEN a > 0 AND e > 0 THEN (a - e) * ln(a / e) ELSE 0.0 END
         |  ), 6) AS psi
         |FROM wa JOIN e USING (bin_id) GROUP BY unit
         |""".stripMargin))

  // ---- §2.4 PSI over categorical bins (CategoryCounter path) ---------------

  private val psiCategorical: Q = Q(
    fn = (s, dir) => {
      val d = li(s, dir)
      // categorical "bins" are the category values themselves — the
      // reference's udf/stats/CategoryCounter.java distribution; same
      // per-unit vs global ratio math as numeric PSI
      val binned = d.select(month(col("l_shipdate")).as("unit"),
        col("l_returnflag").as("bin_id"))
      val counts = binned.groupBy("unit", "bin_id").agg(count(lit(1)).as("c"))
      val unitTot = org.apache.spark.sql.expressions.Window.partitionBy("unit")
      val withActual = counts.withColumn("a",
        col("c").cast("double") /
          sum("c").over(unitTot))
      val global = binned.groupBy("bin_id").agg(count(lit(1)).as("gc"))
      val expected = global.withColumn("e", col("gc").cast("double") /
        // bounded bin table; explicit constant partition key (see
        // ops/Psi.scala) keeps the WindowExec warning count at zero
        sum("gc").over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      withActual.join(broadcast(expected), "bin_id")
        .groupBy("unit")
        .agg(round(sum(
          when(col("a") > 0 && col("e") > 0,
            (col("a") - col("e")) * log(col("a") / col("e")))
            .otherwise(0.0)), 6).as("psi_cat"))
    },
    oracle = Some(
      """WITH b AS (SELECT month(l_shipdate) AS unit, l_returnflag AS bin_id
        |           FROM lineitem),
        |counts AS (SELECT unit, bin_id, count(*) AS c FROM b GROUP BY 1, 2),
        |wa AS (SELECT unit, bin_id,
        |         c::DOUBLE / sum(c) OVER (PARTITION BY unit) AS a
        |       FROM counts),
        |g AS (SELECT bin_id, count(*) AS gc FROM b GROUP BY bin_id),
        |e AS (SELECT bin_id, gc::DOUBLE / sum(gc) OVER () AS e FROM g)
        |SELECT unit, round(sum(
        |  CASE WHEN a > 0 AND e > 0 THEN (a - e) * ln(a / e) ELSE 0.0 END
        |  ), 6) AS psi_cat
        |FROM wa JOIN e USING (bin_id) GROUP BY unit
        |""".stripMargin))

  // ---- §2.4 pairwise Pearson correlation -----------------------------------

  private val corrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private val correlation: Q = Q(
    fn = (s, dir) => Correlation.pearson(li(s, dir), corrCols),
    oracle = Some {
      val pairs = for {
        i <- corrCols.indices; j <- (i + 1) until corrCols.length
      } yield (corrCols(i), corrCols(j))
      pairs.map { case (x, y) =>
        // pairwise-complete, the stack path's convention: each pair
        // uses every row where BOTH its columns are present
        s"""SELECT '$x|$y' AS pair,
           |  round((count(*) * sum($x * $y) - sum($x) * sum($y))
           |    / sqrt((count(*) * sum($x * $x) - sum($x) * sum($x))
           |         * (count(*) * sum($y * $y) - sum($y) * sum($y))), 6) AS corr
           |FROM lineitem
           |WHERE $x IS NOT NULL AND $y IS NOT NULL""".stripMargin
      }.mkString("\nUNION ALL\n") + "\n"
    })

  /** Wide-k correlation: same math, gramian physical path (forced via
    * wideK=6 on 6 columns — one `ml.stat.Correlation` pass over an
    * assembled vector, no k²-row stack; see
    * [[graft.ops.Correlation.pearsonGramian]]). Oracle = the identical
    * closed-form SQL, proving the two physical paths agree at 6 decimals.
    * Columns stay modest-magnitude so the oracle's raw-sum form doesn't
    * lose the 6th decimal to cancellation. */
  private val wideCorrCols = corrCols ++ Seq("l_linenumber", "l_suppkey")

  private val correlationWide: Q = Q(
    fn = (s, dir) => Correlation.pearson(li(s, dir), wideCorrCols, wideK = 6),
    oracle = Some {
      val pairs = for {
        i <- wideCorrCols.indices; j <- (i + 1) until wideCorrCols.length
      } yield (wideCorrCols(i) + "::DOUBLE", wideCorrCols(j) + "::DOUBLE")
      // LISTWISE deletion to match the gramian's handleInvalid=skip:
      // rows with ANY null column are out for EVERY pair (the stack
      // path's pairwise convention is the q_correlation oracle)
      val listwise = wideCorrCols
        .map(c => s"$c IS NOT NULL").mkString(" AND ")
      pairs.map { case (x, y) =>
        // ::DOUBLE up front: the int columns would otherwise sum exactly
        // in DuckDB HUGEINT while Spark accumulates in double
        s"""SELECT '${x.stripSuffix("::DOUBLE")}|${y.stripSuffix("::DOUBLE")}' AS pair,
           |  round((count(*) * sum($x * $y) - sum($x) * sum($y))
           |    / sqrt((count(*) * sum($x * $x) - sum($x) * sum($x))
           |         * (count(*) * sum($y * $y) - sum($y) * sum($y))), 6) AS corr
           |FROM lineitem WHERE $listwise""".stripMargin
      }.mkString("\nUNION ALL\n") + "\n"
    })

  // ---- §2.4 autotype / schema inference ------------------------------------

  private val autoTypeCols =
    Seq("o_orderstatus", "o_orderpriority", "o_totalprice", "o_custkey")

  private val autotype: Q = Q(
    fn = (s, dir) =>
      AutoType.profile(Tables.load(s, dir, "orders"), autoTypeCols),
    oracle = Some {
      val union = autoTypeCols
        .map(c => s"SELECT '$c' AS col_name, cast($c AS VARCHAR) AS v FROM orders")
        .mkString("\nUNION ALL ")
      s"""WITH u AS ($union)
         |SELECT col_name, count(DISTINCT v) AS n_distinct,
         |  sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         |  sum(CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL
         |      THEN 1 ELSE 0 END)::BIGINT AS numeric_cnt,
         |  count(*) AS total_cnt,
         |  CASE WHEN count(DISTINCT v) <= 2 THEN 'N'
         |       WHEN sum(CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL
         |                THEN 1 ELSE 0 END)
         |            >= (count(*) - sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END))
         |               * 0.95 THEN 'N'
         |       ELSE 'C' END AS col_kind
         |FROM u GROUP BY col_name
         |""".stripMargin
    })

  // ---- §2.2 segment expansion (AddColumnNumAndFilterUDF) -------------------

  private val segments = Seq(
    "l_quantity > 25", "l_discount >= 0.05", "l_returnflag == 'R'")
  private val segmentsSql = Seq(
    "l_quantity > 25", "l_discount >= 0.05", "l_returnflag = 'R'")

  private val segmentExpand: Q = Q(
    fn = (s, dir) => {
      // one scan: each row explodes into the ids of the segments it matches
      // (reference duplicates rows per matching segment expression,
      // AddColumnNumAndFilterUDF.java:77-91,165-183)
      val segArray = array(segments.zipWithIndex.map { case (e, i) =>
        when(Jexl.filter(e), lit(i)).otherwise(lit(null))
      }: _*)
      li(s, dir)
        .select(col("l_quantity"),
          explode(filter(segArray, c => c.isNotNull)).as("seg_id"))
        .groupBy("seg_id")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 4).as("sum_qty"))
    },
    oracle = Some {
      val union = segmentsSql.zipWithIndex.map { case (e, i) =>
        s"SELECT $i AS seg_id, l_quantity FROM lineitem WHERE $e"
      }.mkString("\nUNION ALL ")
      s"""WITH u AS ($union)
         |SELECT seg_id, count(*) AS cnt, round(sum(l_quantity), 4) AS sum_qty
         |FROM u GROUP BY seg_id
         |""".stripMargin
    })

  // ---- §2.2 deterministic hash sampling ------------------------------------

  private val hashSample: Q = Q(
    fn = (s, dir) =>
      li(s, dir)
        .withColumn("h", md5(concat(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string")).cast("binary")))
        .filter(substring(col("h"), 1, 1).isin("0", "1"))
        .select("l_orderkey", "l_linenumber"),
    oracle = Some(
      """SELECT l_orderkey, l_linenumber
        |FROM lineitem
        |WHERE substr(md5(cast(l_orderkey AS VARCHAR) || '|'
        |  || cast(l_linenumber AS VARCHAR)), 1, 1) IN ('0', '1')
        |""".stripMargin))

  // ---- §2.8 JEXL weight expression -----------------------------------------

  private val weightExpr: Q = Q(
    fn = (s, dir) =>
      li(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        Jexl.translate("l_quantity * 0.5 + l_tax * 100").as("weight")),
    oracle = Some(
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity * 0.5 + l_tax * 100 AS weight
        |FROM lineitem
        |""".stripMargin))

  val all: Map[String, Q] = Map(
    "q_confusion_sweep" -> confusionSweep,
    "q_operating_points" -> operatingPointsQ,
    "q_recall_points"   -> recallPointsQ,
    "q_roc_auc"         -> rocAuc,
    "q_pr_auc"          -> prAuc,
    "q_weighted_sweep"  -> weightedSweep,
    "q_bagging"         -> bagging,
    "q_sample_negonly"  -> sampleNegOnly,
    "q_gain_chart"      -> gainChart,
    "q_score_stats"     -> scoreStats,
    "q_psi"             -> psi,
    "q_psi_cat"         -> psiCategorical,
    "q_correlation"     -> correlation,
    "q_correlation_wide" -> correlationWide,
    "q_autotype"        -> autotype,
    "q_segment_expand"  -> segmentExpand,
    "q_hash_sample"     -> hashSample,
    "q_weight_expr"     -> weightExpr,
  )
}
