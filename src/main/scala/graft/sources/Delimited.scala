package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Delimited-text ingestion with the reference's semantics (SURVEY §1.1,
  * §2.1): row-oriented delimited text, NO embedded schema, all values
  * strings at load, header from a separate source or first-line sniffing,
  * missing sentinels ("" and "?" by default, `ModelSourceDataConf.java:50`)
  * nulled at read, numeric parsing lenient per-operator (`try_cast`).
  *
  * Spark's csv source handles splitting/quoting/compression (gzip/bzip2
  * transparently by extension, like PigStorage); schema is all-string so
  * nothing is coerced before an operator asks for it.
  */
object Delimited {

  /** Read with an explicit header (the `.pig_header` pattern —
    * `udf/ColumnProjector.java:59-99`). */
  def read(spark: SparkSession, path: String, delimiter: String,
           header: Seq[String],
           missingValues: Set[String] = Set("", "?")): DataFrame = {
    val schema = StructType(header.map(StructField(_, StringType, true)))
    val raw = spark.read
      .option("delimiter", delimiter)
      .option("header", "false")
      .schema(schema)
      .csv(path)
    nullifyMissing(raw, missingValues)
  }

  /** Missing sentinels → null, on every column (done at scan so the
    * missing-last-bin convention holds downstream without re-checks). */
  def nullifyMissing(df: DataFrame, missing: Set[String]): DataFrame =
    if (missing.isEmpty) df
    else df.select(df.columns.map { c =>
      when(col(c).isin(missing.toSeq.map(lit): _*), lit(null))
        .otherwise(col(c)).as(c)
    }.toIndexedSeq: _*)

  /** Malformed-row guard (reference `AddColumnNumAndFilterUDF.java:104-117`,
    * MAX_MISMATCH_CNT=500): parse raw lines, DROP rows whose field count
    * mismatches the header, and surface the drop count as an `observe()`
    * metric ("malformed_cnt") — the Spark-native replacement for the
    * reference's MR counters (§2.9), readable via
    * `org.apache.spark.sql.Observation` without a second pass.
    *
    * CAUTION: a registered Observation stays attached to the session's
    * ObservationManager and breaks closure serialization for LATER jobs on
    * that session ("Task not serializable: ObservationManager"). Pass an
    * Observation only when the caller consumes it promptly, and prefer a
    * dedicated `spark.newSession()` when the session is long-lived. */
  def readGuarded(spark: SparkSession, path: String, delimiter: String,
                  header: Seq[String],
                  observation: Option[org.apache.spark.sql.Observation] = None,
                  missingValues: Set[String] = Set("", "?")): DataFrame = {
    val n = header.length
    val parts = split(col("value"), java.util.regex.Pattern.quote(delimiter))
    val lines = spark.read.text(path)
    val observed = observation match {
      case Some(obs) => lines.observe(obs,
        sum(when(size(parts) =!= n, 1L).otherwise(0L)).as("malformed_cnt"),
        count(lit(1)).as("total_cnt"))
      case None => lines
    }
    val cells = observed.filter(size(parts) === n)
      .select(header.zipWithIndex.map { case (h, i) =>
        parts.getItem(i).as(h)
      }.toIndexedSeq: _*)
    nullifyMissing(cells, missingValues)
  }

  /** Delimited sink (+ optional compression), `ShifuPigStorage`/`STORE`
    * parity. `codec` takes any Spark csv compression name ("gzip",
    * "bzip2", …); reference `RawSourceData` paths may be either — reads
    * need no flag (codec sniffed from the file extension), and bzip2 is
    * additionally SPLITTABLE on read, so one large .bz2 file still fans
    * out across tasks (gzip does not — spread gzip across files at write
    * time instead). */
  def write(df: DataFrame, path: String, delimiter: String,
            gzip: Boolean = false, codec: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").option("delimiter", delimiter)
    codec.orElse(if (gzip) Some("gzip") else None)
      .fold(w)(c => w.option("compression", c)).csv(path)
  }
}
