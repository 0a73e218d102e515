package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema inference / auto-typing.
  *
  * Reference: `core/autotype/AutoTypeDistinctCountMapper.java:134-230` runs
  * HyperLogLogPlus(p=8) + space-saving frequent items per column, merged in
  * `AutoTypeDistinctCountReducer.java:39-60`; `InitModelProcessor.java:105-210`
  * applies the decision thresholds (categorical if few distincts / low
  * numeric-parse ratio; binary detection at :194).
  *
  * Spark: `approx_count_distinct` IS HyperLogLog++ — one agg pass over all
  * columns, no explode. The oracle-parity variant uses exact distincts
  * (`count(DISTINCT)`); the scale path flips `approxDistinct = true`.
  */
object AutoType {

  /** Backtick-quote an identifier for the parsed stack() expr — same
    * rule as Correlation.qid: "a|b", spaces, leading digits and
    * embedded backticks must not break the parse. */
  private def qid(name: String): String =
    "`" + name.replace("`", "``") + "`"

  private def qlit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Long-format typing report: (col_name, n_distinct, n_null, numeric_cnt,
    * total_cnt, col_kind) — kind decision per the reference thresholds:
    * numeric-parse ratio over non-null values >= 0.95 → N; distinct
    * <= 2 → binary-numeric; else C. */
  def profile(df: DataFrame, cols: Seq[String],
              approxDistinct: Boolean = false): DataFrame = {
    val stackExpr = "stack(" + cols.length + ", " +
      cols.map(c => s"${qlit(c)}, cast(${qid(c)} as string)")
        .mkString(", ") +
      ") as (col_name, v)"
    val distinctAgg =
      if (approxDistinct) approx_count_distinct(col("v"), 0.02)
      else count_distinct(col("v"))
    df.select(expr(stackExpr))
      .groupBy("col_name")
      .agg(
        distinctAgg.as("n_distinct"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(expr("try_cast(v AS double)").isNotNull, 1L).otherwise(0L))
          .as("numeric_cnt"),
        count(lit(1)).as("total_cnt"))
      .withColumn("col_kind",
        when(col("n_distinct") <= 2, lit("N"))
          // the parse share is over NON-NULL values: a missing value
          // is not evidence against a numeric column, and counting it
          // typed every numeric column with >5% missing as C
          .when(col("numeric_cnt") >=
            (col("total_cnt") - col("n_null")) * 0.95, lit("N"))
          // everything non-numeric is C regardless of cardinality —
          // the reference has no high-cardinality kind either; the old
          // distinct<256 branch and its threshold constant were dead
          .otherwise(lit("C")))
  }
}
