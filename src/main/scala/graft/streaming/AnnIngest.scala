package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._

import graft.streaming.IngestIndex.{AnnFamily, Manifest, Run}

/** Streaming ANN index ingest — the similarity-family counterpart of
  * the dedup ingest gate ([[StreamOps.dedupIngestStream]]): a continuous
  * embedding feed is folded into a PERSISTED, cell-partitioned IVF index
  * that the query path reads with partition pruning. Reference scope:
  * the reference engine has no vector surface at all (ShifuML/shifu is
  * tabular); this is a beyond-reference operator for the
  * training-data-pipeline family (SURVEY "similarity search" scale
  * path), built from the in-repo IVF pieces ([[graft.sim.Ivf]]).
  *
  * Layout (`indexDir/`):
  *  - `centroids.json` — the coarse quantizer, written exactly once by
  *    the first non-empty batch (`Ivf.centroids` is deterministic:
  *    hash-stride sample, driver-local Lloyd) and FROZEN under ingest:
  *    cell assignment is a pure function of the vector, so batches
  *    never need to revisit earlier state and two ingests of the same
  *    vector land in the same cell forever. The ONLY path that may
  *    replace it is retrain-at-compaction (below), which rebuilds the
  *    whole index under the new quantizer in the same atomic commit.
  *  - `vectors/batch=<id>/cell=<c>/` — per-batch delta, OVERWRITE mode
  *    (foreachBatch retry idempotency, same shape as [[IngestIndex]]).
  *  - `vectors/run_<K>_<k>/cell=<c>/` + `manifest.json` — size-tiered
  *    compacted runs, committed by the manifest pointer swap
  *    ([[IngestIndex]] manifest helpers reused verbatim): [[compact]]
  *    folds the new deltas into one run (O(deltas)) and merges runs of
  *    the same power-of-two size class binary-counter style, so the
  *    biggest run is rewritten only when the corpus doubles — never
  *    "the whole base every cycle".
  *  - `skew_v<K>.json` — cell-occupancy report written at each
  *    compaction (bounded: ≤ nCells rows, counted from parquet footers
  *    via the partition column): a frozen quantizer under distribution
  *    shift silently piles rows into a few hot cells, and this is the
  *    operator's own telemetry for noticing (`skew` = max/mean cell
  *    share; ≥ ~4 with many cells means pruning has stopped helping).
  *  - `tombs/t_<tag>/` — deletion tombstones ([[delete]]): readers
  *    anti-join them immediately; compaction folds them into every run
  *    it writes and sweeps each tombstone once no live run predates it
  *    (plus one retention generation) — the LSM delete, required the
  *    moment a real corpus faces takedowns.
  *
  * Scale shape: ingest is APPEND-ONLY — unlike the dedup gate it never
  * probes prior state, so per-batch cost is O(batch) by construction:
  * a batch that fits the held cap is collected once, assigned on the
  * driver and written from there with no Spark job
  * ([[IngestIndex.writeFromDriver]], as are a compaction's runs over
  * held inputs and a small delete's tombstone); a larger one runs a
  * narrow assignment map over broadcast centroids and one
  * cell-partitioned write. Queries probe nProbe cells per vector: the
  * query set is small by contract, so it is collected once and its
  * probes are assigned on the driver against the in-memory quantizer.
  * A steady query launches NO Spark job: runs and deltas never change once
  * published, so the decoded rows of each live run or delta dir are
  * held on the driver, one entry per dir keyed by the dir's files
  * ([[IngestIndex.dirKey]]), and the probed cells are scored there in
  * plain Scala. The writers keep them current: an ingest that fits the
  * cap, and a compaction's fold and merges over held inputs, hold the
  * rows they write, and a small delete holds the new tombstone set, so
  * no query reads back what was just written. A dir the held rows lack
  * (an index that was not held, a large batch, a heal's runs) is read
  * whole in one job by the next query; an entry whose dir left the live
  * set is dropped at the next query of its index. The held rows of every
  * index together are capped at `HeldMaxValues` vector values
  * (least recently used index evicted first). An index above the cap,
  * or with a tombstone set above `TombBroadcastMax` rows, is served by
  * ONE distributed scan job instead: the probed cell set (≤ nCells
  * values) becomes a partition filter on every run scan, so a query
  * touches `nProbe / nCells` of the corpus regardless of index size; the
  * probe table rides in the scan's task closure, each task keeps a
  * bounded top-k per query, and the driver merges them. Both paths score
  * through one per-row function, so their rows are bit-identical. A
  * live tombstone set of at most `TombBroadcastMax` rows is collected
  * once per set and applied as a membership test first — on the held
  * rows, or as a task-side predicate — so the scope rule, and the row's
  * source id, is evaluated only for the few rows whose id is held; a
  * query pays for the rows it scores, not for the index's deletion
  * history. The query's prologue (vector and norm of each query row)
  * and epilogue (the `cos_r` rounding) run on the driver: the query
  * frame is only collected, and the result is a plain local frame.
  * Every run, delta
  * and tombstone read uses the index's fixed at-rest schema (`vecSchema`, `tombSchema`) instead of
  * inferring one per directory, and the live runs and deltas are read
  * as ONE scan relation, so the number of Spark jobs a query or
  * compaction launches does not grow with the number of live dirs.
  * Cells are the IVF sharding — on a cluster each cell's files
  * co-locate and brute-force scoring stays within the pruned slice.
  */
object AnnIngest {

  /** Default coarse-quantizer width. 16 cells suits the sf-scale specs;
    * production callers size via [[cellsFor]]. */
  val DefaultCells = 16

  /** Session conf key selecting the AT-REST vector codec for the
    * index's run/delta writes: `f64` (default — `array<double>`,
    * lossless for any input) or `f32` (`array<float>` — HALF the
    * vector bytes at rest, which at 10⁹ × 1024-dim is ~4 TB saved per
    * index and a byte-bound serving scan read twice as fast).
    *
    * Loss model: when the source embeddings are float32 — the common
    * case for learned embeddings, and the `embeddings` table's own
    * type — the f32 round-trip is EXACT (float→double→float is the
    * identity on representable values), so queries are bit-identical
    * to f64 storage. Double-born vectors round to the nearest float
    * (half-ulp per component); opt-in by design.
    *
    * Decoding is SCHEMA-driven: every index read pins `e` to
    * `array<double>` in its read schema ([[vecSchema]]) and the Parquet
    * reader widens stored floats to doubles exactly, so an index may MIX
    * runs written under either codec — the flag only matters to
    * writers, and a reader session needs no conf at all. */
  val VectorCodecKey = "spark.sql.graft.ann.vectorCodec"

  /** Does the session write the f32 codec ([[VectorCodecKey]])? */
  private def f32(sp: SparkSession): Boolean =
    sp.conf.getOption(VectorCodecKey).getOrElse("f64") match {
      case "f64" => false
      case "f32" => true
      case other => throw new IllegalArgumentException(
        s"$VectorCodecKey must be f64|f32, got '$other'")
    }

  /** Apply the session's at-rest codec to a (vec_id, e, norm, cell)
    * frame about to be written as a run/delta. */
  private def encodeVec(sp: SparkSession, df: DataFrame): DataFrame =
    if (f32(sp)) df.withColumn("e", col("e").cast("array<float>")) else df

  /** Standard IVF cell count for an EXPECTED corpus size: ~sqrt(n)
    * (cell size ≈ cell count balances probe cost against assignment
    * selectivity), clamped to [1, 65536] so the probed-cell partition
    * filter and the driver-side centroid broadcast stay bounded. The
    * quantizer freezes at the first batch, so the caller passes the
    * corpus it EXPECTS to ingest, not the first batch's size — same
    * contract as sizing any offline-trained IVF. Mirrors
    * `Similarity.bitsFor` for the LSH family: fixed geometry was that
    * family's measured 10× cliff (BENCH_SCALE.md), and a fixed
    * DefaultCells has the same failure mode at corpus scale. */
  def cellsFor(expectedN: Long): Int = {
    require(expectedN > 0, s"expectedN must be positive, got $expectedN")
    math.min(1 << 16, math.max(1, math.round(math.sqrt(
      expectedN.toDouble)).toInt))
  }

  private def fs(sp: SparkSession, dir: String) =
    new Path(dir).getFileSystem(sp.sparkContext.hadoopConfiguration)

  /** Anything to compact at `indexDir`? The ANN layout's dual of
    * [[IngestIndex.nonEmpty]] (which checks the GATE's hashes/bands
    * subdirs): a committed manifest, or any vector delta. Guards the
    * stream's empty-batch compaction cadence against compacting an
    * index that has never seen a row. */
  private def indexNonEmpty(sp: SparkSession, indexDir: String): Boolean = {
    val f = fs(sp, indexDir)
    f.exists(new Path(s"$indexDir/manifest.json")) || {
      val p = new Path(vectorsDir(indexDir))
      f.exists(p) &&
        f.listStatus(p).exists(_.getPath.getName.startsWith("batch="))
    }
  }

  private def centroidsPath(indexDir: String, name: String) =
    new Path(s"$indexDir/$name")

  /** Serialize centroids exactly: `java.lang.Double.toString` round
    * trips every finite double, so a re-read quantizer is bit-identical
    * to the trained one (assignment determinism across restarts). */
  private[streaming] def writeCentroids(sp: SparkSession, indexDir: String,
      cents: Array[Array[Double]], name: String = "centroids.json"): Unit = {
    val txt = cents.map(_.mkString("[", ",", "]"))
      .mkString("[", ",\n", "]")
    // write-temp-then-rename, same as the manifest: an in-place write
    // crashed mid-stream leaves a TRUNCATED quantizer — and the frozen
    // first-batch centroids.json is not manifest-gated, so a retry
    // would parse the partial text into a short/jagged array and
    // either wedge on it or silently freeze a degenerate quantizer
    val f = fs(sp, indexDir)
    val tmp = centroidsPath(indexDir, s"$name.tmp")
    val out = f.create(tmp, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
    // rename with OVERWRITE (same commit discipline as the manifest):
    // a delete-then-rename pair has a window where NO quantizer file
    // exists — a crash there would make a restart retrain a fresh
    // frozen quantizer while existing rows keep cells assigned by the
    // lost one
    IngestIndex.renameOverwrite(f,
      sp.sparkContext.hadoopConfiguration, tmp,
      centroidsPath(indexDir, name))
  }

  /** Name of the manifest-committed quantizer file, if retrain-at-
    * compaction has replaced the original (None = the frozen
    * first-batch `centroids.json` is still live). Telemetry surface for
    * callers auditing whether a retrain took effect. */
  def quantizerName(sp: SparkSession, indexDir: String): Option[String] =
    IngestIndex.readManifest(sp, indexDir).cents

  /** The quantizer queries and ingest must use: the manifest's `cents`
    * pointer when retrain-at-compaction has committed one, else the
    * frozen first-batch `centroids.json`. */
  def readCentroids(sp: SparkSession, indexDir: String)
      : Option[Array[Array[Double]]] =
    centroidsOf(IngestIndex.readManifest(sp, indexDir), sp, indexDir)

  private def centroidsOf(m: Manifest, sp: SparkSession, indexDir: String)
      : Option[Array[Array[Double]]] =
    readCentroidsFile(sp, indexDir, m.cents.getOrElse("centroids.json"))

  private def readCentroidsFile(sp: SparkSession, indexDir: String,
      name: String): Option[Array[Array[Double]]] = {
    val f = fs(sp, indexDir)
    val p = centroidsPath(indexDir, name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(txt.split("\\],?\\s*\\[").toArray
        .map(_.replaceAll("[\\[\\]\\s]", ""))
        .filter(_.nonEmpty)
        .map(_.split(",").map(_.toDouble)))
    }
  }

  /** The frozen quantizer for this index: read it, or train it from
    * `firstBatch` (deterministic) and persist. Later batches always
    * take the read path — the quantizer never drifts under ingest.
    * Training is REFUSED when vector deltas already exist without a
    * centroids file (manual deletion, partial restore): a retrained
    * quantizer would assign new batches under different cells than the
    * existing index rows, silently corrupting every pruned query. */
  private[streaming] def ensureCentroids(batch: DataFrame, indexDir: String,
      nCells: Int): Array[Array[Double]] = {
    val sp = batch.sparkSession
    readCentroids(sp, indexDir).getOrElse {
      if (fs(sp, indexDir).exists(new Path(vectorsDir(indexDir))))
        throw new IllegalStateException(
          s"ANN index at $indexDir has vector deltas but no " +
            "centroids.json — retraining would assign cells " +
            "inconsistently with the existing index; restore the " +
            "centroids file or rebuild the index from scratch")
      val v = graft.sim.Similarity.prep(batch)
      val cents = graft.sim.Ivf.centroids(v, nCells)
      writeCentroids(sp, indexDir, cents)
      cents
    }
  }

  /** Ingest one batch: assign each vector to its (frozen) nearest cell
    * ([[graft.sim.Ivf.nearestCell]]) and append under
    * `vectors/batch=<id>`, partitioned by cell, one file per cell.
    * Overwrite mode → a foreachBatch retry leaves the index
    * bit-identical. No prior index state is read — ingest cost is
    * O(batch) whatever the corpus size. A row with a null `vec_id` is
    * dropped, as [[graft.sim.Similarity.prep]] drops a null embedding:
    * it has no identity to query, delete or return, and one such row
    * must not fail the batch (and with it the stream).
    *
    * Once the quantizer exists, a batch of at most `HeldMaxValues / dim`
    * rows is collected once and assigned on the driver, and the delta is
    * written from the driver with no Spark job ([[writeLocal]]): over a
    * local batch frame the ingest runs none at all. When the index's rows
    * are held for queries ([[queryTopK]]), the decoded delta is held too,
    * so the next query reads nothing back. The first batch, which trains the
    * quantizer, and a larger batch run the distributed assignment and
    * cell shuffle instead. */
  def ingestBatch(batch: DataFrame, batchId: Long, indexDir: String,
                  nCells: Int = DefaultCells): Unit =
    ingestBatchWith(batch, batchId, indexDir, nCells, HeldMaxValues)

  /** [[ingestBatch]] with the driver path's cap `heldMax` in vector
    * values: a batch above `heldMax / dim` rows is written distributed. */
  private[streaming] def ingestBatchWith(batch: DataFrame, batchId: Long,
      indexDir: String, nCells: Int, heldMax: Long): Unit =
      IngestIndex.withWriterLease(batch.sparkSession, indexDir) {
    val sp = batch.sparkSession
    val rows = batch.filter(col("vec_id").isNotNull)
    val v = graft.sim.Similarity.prep(rows)
    val dir = s"${vectorsDir(indexDir)}/batch=$batchId"
    val small = readCentroids(sp, indexDir).filter(_.nonEmpty).flatMap { cs =>
      val cap = heldMax / math.max(cs(0).length, 1)
      val got = v.limit(math.min(cap + 1, Int.MaxValue).toInt).collect()
      Option.when(got.length <= cap)(cs -> got)
    }
    small match {
      case Some((cents, got)) =>
        val toHeld = UnsafeProjection.create(heldSchema)
        val rs = got.toSeq.map { r =>
          val e = new GenericArrayData(r.getSeq[Any](1).toArray)
          toHeld(InternalRow(graft.sim.Ivf.nearestCell(cents, e),
            r.getLong(0), e, r.getDouble(2))).copy(): InternalRow
        }
        holdWritten(sp, indexDir, dir, writeLocal(sp, dir, rs), Nil)
      case None =>
        val cents = ensureCentroids(rows, indexDir, nCells)
        // ~one file per populated cell partition. The exchange width is
        // bounded by the quantizer size (there are at most |cells|
        // distinct keys): a full configured-width exchange (AQE is off
        // inside foreachBatch) is mostly empty tasks when |cells| is
        // small, and capping at the session width changes nothing at
        // production cell counts
        val w = graft.ops.Spread.cellWidth(sp, cents.length)
        writeCells(sp, dir,
          graft.sim.Ivf.assignCells(v, cents).repartition(w, col("cell")))
    }
  }

  private def vectorsDir(indexDir: String) = s"$indexDir/vectors"
  private def tombsDir(indexDir: String) = s"$indexDir/tombs"

  /** Slot ids of LIVE centroids. A cold-cell fold deadens a slot by
    * writing an all-NaN centroid in place (slot ids ARE cell ids, so
    * folding must never renumber the survivors): dead slots hold no
    * rows, win no argmin (NaN never beats a running min), and are
    * filtered out of probe sets — they cost one NaN check per row in
    * the assignment loop and nothing anywhere else. */
  private[streaming] def liveSlots(cents: Array[Array[Double]]): Seq[Int] =
    cents.indices.filter(c => !cents(c)(0).isNaN)

  /** Count of live (non-dead) quantizer slots — the figure that
    * bounds probe sets, partition counts, and skew mean. Telemetry
    * surface for callers auditing fold/split heals. */
  def liveCellCount(sp: SparkSession, indexDir: String): Int =
    readCentroids(sp, indexDir).map(liveSlots(_).size).getOrElse(0)

  /** Register vectors for deletion (takedowns, dedup corrections): a
    * TOMBSTONE — `ids` (single `vec_id` column) written under
    * `tombs/t_<tag>` in overwrite mode, so re-issuing the same tag is
    * idempotent. Up to [[IngestIndex.TombBroadcastMax]] ids are collected
    * and written from the driver with no write job
    * ([[IngestIndex.writeFromDriver]]), and when the live set before them
    * is held the new set is held in its place: the next query collects
    * nothing; a larger set is written by a distinct and one write job.
    * Readers anti-join live tombstones immediately (the
    * ids vanish from every readIndex/queryTopK result as soon as this
    * returns); the next [[compact]] APPLIES them (the rebuilt runs
    * physically exclude the rows) and the one after SWEEPS the applied
    * tombstone dirs (same one-generation retention as runs, so a
    * reader planned before the apply still sees them). Semantics: a
    * tombstone excludes its ids until it is swept — re-ingesting a
    * deleted id becomes visible only after that second compaction.
    * Call from the ingest control loop, not concurrently with a
    * running compaction. */
  def delete(sp: SparkSession, indexDir: String, ids: DataFrame,
             tag: String): Unit =
      IngestIndex.withWriterLease(sp, indexDir) {
    import org.apache.spark.sql.Row
    val m = IngestIndex.readManifest(sp, indexDir)
    AnnFamily.requireNewTag(m, tag)
    // the split_ namespace is reserved: split-retrain tombstones are
    // MANIFEST-GATED (a dir is honored only when committed), which
    // would silently defer a user takedown issued under such a tag
    require(!tag.startsWith("split_"),
      s"tag '$tag' collides with the reserved split-retrain namespace " +
        "(t_split_*); pick another tag")
    val name = s"t_$tag"
    val dir = s"${tombsDir(indexDir)}/$name"
    val bound = AnnFamily.sourceBound(sp, indexDir, m)
    val vid = ids.select(col("vec_id").cast("long"))
    val got = vid.limit(IngestIndex.TombBroadcastMax.toInt + 1).collect()
    if (got.length > IngestIndex.TombBroadcastMax)
      vid.distinct().withColumn("tb_bound", lit(bound))
        .write.mode("overwrite").parquet(dir)
    else {
      // a set small enough to hold: distinct on the driver, written from
      // there, and — when the set before it is held and this tag is new —
      // the new live set held in its place, as a collect would build it
      val before = tombDirsWith(m, sp, indexDir)
      val prev =
        if (before.exists(IngestIndex.nameOf(_) == name)) None
        else if (before.isEmpty) Some(new TombSet(Array.empty))
        else IngestIndex.tombHeld[Option[TombSet]](sp, before, "ann",
          ledgerOf(m)).flatten
      val added = got.map(r => if (r.isNullAt(0)) null
        else java.lang.Long.valueOf(r.getLong(0))).distinct
      IngestIndex.writeFromDriver(sp, dir, takedownSchema,
        Seq("" -> added.toSeq.map(InternalRow(_, bound))))
      prev.map(_.rows ++ added.map(Row(_, null, bound)))
        .filter(_.length <= IngestIndex.TombBroadcastMax)
        .foreach(rs => IngestIndex.tombHold(sp,
          tombDirsWith(m, sp, indexDir), "ann", ledgerOf(m),
          Some(new TombSet(rs))))
    }
  }

  /** Live (not yet swept) tombstone dirs on disk. Bounded: tombstones
    * are applied at each compaction and swept one generation later.
    *
    * MANIFEST-GATING for split tombstones: a `t_split_*` dir is live
    * ONLY IF the manifest's tombs/tswept lists it. A takedown
    * tombstone ([[delete]]) is deliberately live the moment its dir
    * exists — the user asked for the exclusion, committed or not. A
    * SPLIT tombstone is compaction-internal: it is written just before
    * the manifest swap that also publishes the relocation run, and a
    * crash in between leaves the dir on disk with the relocated copies
    * UNCOMMITTED — honoring it would silently hide every mover (its
    * old-cell copy excluded, its new-cell copy nonexistent). Gated on
    * the manifest, the orphan dir is inert and the next compaction
    * retry overwrites it with the same deterministic content. */
  private[streaming] def tombDirs(sp: SparkSession, indexDir: String)
      : Seq[String] =
    tombDirsWith(IngestIndex.readManifest(sp, indexDir), sp, indexDir)

  private def tombDirsWith(m: Manifest, sp: SparkSession,
      indexDir: String): Seq[String] = {
    val p = new Path(tombsDir(indexDir))
    val f = fs(sp, indexDir)
    if (!f.exists(p)) return Nil
    val recognized = AnnFamily.applied(m).map(_.name).toSet
    f.listStatus(p).toSeq.map(_.getPath.toString)
      .filter { d =>
        val n = d.split("/").last
        n.startsWith("t_") &&
          (!n.startsWith("t_split_") || recognized(n))
      }.sorted
  }

  /** Source id of a run/delta dir: the compaction id that wrote a run
    * (`run_<id>_<k>`) or a delta's batch id (`batch=<id>`) — both on
    * the batch-id axis the tombstone ledger's applied-at ids use. An
    * unrecognized name reads 0 (oldest — conservatively INSIDE every
    * cell-scoped tombstone's exclusion scope: the failure mode of
    * guessing "new" would be resurrecting a stale pre-split copy). */
  private def srcIdOf(dir: String): Long = IngestIndex.srcIdOf(dir)

  /** Read schema of every tombstone dir: takedowns ([[delete]]) write
    * (vec_id, tb_bound), heal tombstones write (vec_id, cell), and a
    * legacy takedown holds vec_id alone. A column a dir lacks reads as
    * NULL — exactly the "no scope" meaning [[antiTombs]] gives it. */
  private val tombSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("tb_bound",
      org.apache.spark.sql.types.LongType)))

  /** At-rest schema of a takedown tombstone ([[delete]]). */
  private val takedownSchema = org.apache.spark.sql.types.StructType(
    tombSchema.fields.filter(_.name != "cell"))

  /** Live tombstone rows normalized to (vec_id, cell, tb_applied):
    * takedown tombstones ([[delete]]) carry no cell — cell reads NULL,
    * meaning "exclude from every cell"; split-retrain relocation
    * tombstones are CELL-SCOPED (vec_id, cell) AND
    * SOURCE-SCOPED (tb_applied = the manifest's applied-at id): they
    * exclude only the STALE copy left in the row's former cell by a
    * run that PREDATES the split. Without the source scope, a vec_id
    * re-ingested after the split with an updated embedding whose
    * argmin lands back in its old cell would match the (vec_id, cell)
    * tombstone and be silently excluded — and the next compaction's
    * fold would physically drop the fresh row. */
  private def tombRows(m: Manifest, sp: SparkSession,
      dirs: Seq[String]): DataFrame =
    dirs.map { d =>
      val n = d.split("/").last
      val applied: Column =
        if (n.startsWith("t_split_"))
          // split tombstones are manifest-gated, so a live one always
          // has a ledger record; a missing one (impossible by
          // construction) reads MaxValue = exclude from every source,
          // the pre-scoping behavior
          lit(AnnFamily.applied(m)
            .find(_.name == n).map(_.rows).getOrElse(Long.MaxValue))
        // source-scoped takedown ([[delete]] stamps the bound); a
        // legacy dir without it reads NULL = every source
        else col("tb_bound")
      sp.read.schema(tombSchema).parquet(d)
        .select(col("vec_id"), col("cell"), applied.as("tb_applied"))
    }.reduce(_ union _)

  /** The tombstone scope rule, the one definition both exclusion forms
    * ([[antiTombs]] and [[TombSet]]) evaluate: a tombstone row
    * (`tCell`, `tApplied`) excludes an index row with its vec_id from
    * cell `cell` and source `src` when it names no cell or that cell, and
    * carries no applied-at id or one above the row's source. The two
    * scopes are INDEPENDENT: a split tombstone carries both (stale
    * old-cell copy, pre-split sources); a scoped takedown carries only
    * the source bound (every cell, pre-delete sources); a legacy takedown
    * carries neither (exclude everywhere). A NULL row side never matches
    * a scope that names it — SQL comparison semantics. */
  private def inScope(tCell: Integer, tApplied: java.lang.Long,
      cell: Integer, src: java.lang.Long): Boolean =
    (tCell == null || (cell != null && tCell.intValue == cell.intValue)) &&
      (tApplied == null || (src != null && src.longValue < tApplied.longValue))

  private lazy val inScopeUdf = udf(inScope _)

  /** Shuffled anti-join of `rows` (must carry vec_id + cell + src_id)
    * against normalized tombstone rows — the form for tombstone sets
    * above [[IngestIndex.TombBroadcastMax]] rows: vec_id equality is the
    * join key, the [[inScope]] rule rides along as its extra
    * condition. */
  private def antiTombs(rows: DataFrame, tombs: DataFrame): DataFrame = {
    val t = tombs
      .withColumnRenamed("vec_id", "tb_vid")
      .withColumnRenamed("cell", "tb_cell")
    rows.join(t,
      rows("vec_id") === t("tb_vid") &&
        inScopeUdf(t("tb_cell"), t("tb_applied"), rows("cell"),
          rows("src_id")),
      "left_anti")
  }

  /** Name of a held tombstone set's membership test ([[TombSet]]'s
    * `free`) in a plan — what `tools.PlanLint` looks for to check that
    * the per-row source id is derived only under its short-circuit. */
  private[graft] val TombFreeUdf = "ann_tomb_free"

  /** A live tombstone set of at most [[IngestIndex.TombBroadcastMax]]
    * rows, held on the driver: vec_id → its (cell, applied-at) scopes.
    * Its predicate `free(vec_id) || keep(vec_id, cell, src_id)` ships
    * with each task, so a read under it launches no tombstone job, and
    * the `Or` evaluates `keep` — with its source-id argument — only for
    * a row whose id is held. */
  private final class TombSet(
      @transient val rows: Array[org.apache.spark.sql.Row])
      extends Serializable {
    private val byId: Map[java.lang.Long, Array[(Integer, java.lang.Long)]] =
      rows.filterNot(_.isNullAt(0)).groupBy(_.getLong(0)).map {
        case (id, rs) => java.lang.Long.valueOf(id) -> rs.map(r => (
          if (r.isNullAt(1)) null else Integer.valueOf(r.getInt(1)),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))))
      }

    def isEmpty: Boolean = byId.isEmpty

    /** Is no tombstone held for `id`? A null id matches none. */
    def frees(id: java.lang.Long): Boolean = id == null || !byId.contains(id)

    /** Does the row (vec_id, cell, src_id) survive every tombstone held
      * for its id? */
    def keeps(id: java.lang.Long, cell: Integer,
        src: java.lang.Long): Boolean =
      byId.get(id).forall(!_.exists {
        case (tc, ta) => inScope(tc, ta, cell, src)
      })

    /** `frees(vec_id) || keeps(vec_id, cell, src)` for a held index row
      * `r` ([[heldSchema]]) of cell `cell` from source `src`. */
    def admits(r: InternalRow, cell: Int, src: Long): Boolean =
      r.isNullAt(1) || frees(r.getLong(1)) || keeps(r.getLong(1), cell, src)

    @transient lazy val free =
      udf((id: java.lang.Long) => frees(id)).withName(TombFreeUdf)

    @transient lazy val keep =
      udf((id: java.lang.Long, cell: Integer, src: java.lang.Long) =>
        keeps(id, cell, src))
  }

  /** The live tombstone set of the tombstone dirs `dirs`: a held
    * [[TombSet]] (empty when no dir is live), or the tombstone rows when
    * the set is above [[IngestIndex.TombBroadcastMax]] rows. A small set
    * is collected ONCE per tombstone-set key ([[IngestIndex.tombKey]]:
    * each dir's files, plus the manifest's tombs/tswept ledger, from
    * which split tombstones take their applied-at id), so a steady reader
    * launches no tombstone job. The tombstone relation is built only to
    * collect a set or to anti-join it: a cached set plans no tombstone
    * read. */
  private def tombsOf(m: Manifest, sp: SparkSession, dirs: Seq[String])
      : Either[DataFrame, TombSet] =
    if (dirs.isEmpty) Right(new TombSet(Array.empty))
    else {
      lazy val t = tombRows(m, sp, dirs)
      IngestIndex.tombCached(sp, dirs, "ann", ledgerOf(m)) {
        // one partition: a limit over several would take rows with
        // one job per partition batch
        val rs = t.coalesce(1)
          .limit(IngestIndex.TombBroadcastMax.toInt + 1).collect()
        if (rs.length > IngestIndex.TombBroadcastMax) None
        else Some(new TombSet(rs))
      }.toRight(t)
    }

  /** The manifest state a tombstone set also derives from: split
    * tombstones take their applied-at id from the ledger. */
  private def ledgerOf(m: Manifest): String =
    AnnFamily.applied(m).map(r => s"${r.name}=${r.rows}").sorted.mkString(",")

  /** The tombstone exclusion of a live tombstone set ([[tombsOf]]) over
    * rows that carry vec_id + cell + src_id: identity for an empty set,
    * the held set's predicate for a small one, the shuffled
    * [[antiTombs]] for a large one. The held predicate tests membership
    * first, so the optimizer inlines the src_id expression (a regex over
    * each row's file path, see [[readDirs]]) under the `Or`'s right
    * branch, evaluated for held ids only. */
  private def tombFilter(tombs: Either[DataFrame, TombSet])
      : DataFrame => DataFrame =
    tombs match {
      case Right(set) if set.isEmpty => identity
      case Right(set) => rows =>
        rows.filter(set.free(col("vec_id")) ||
          set.keep(col("vec_id"), col("cell"), col("src_id")))
      case Left(t) => rows => antiTombs(rows, t)
    }

  /** Live (run dirs, delta dirs) under the manifest, batch deltas
    * strictly below `beforeBatch` (Long.MaxValue = everything). */
  private[streaming] def live(sp: SparkSession, indexDir: String,
      beforeBatch: Long): (Seq[String], Seq[String]) =
    liveWith(IngestIndex.readManifest(sp, indexDir), sp, indexDir,
      beforeBatch)

  private def liveWith(m: Manifest, sp: SparkSession, indexDir: String,
      beforeBatch: Long): (Seq[String], Seq[String]) = {
    val f = fs(sp, indexDir)
    val runs = m.runs.getOrElse("vectors", Nil)
      .map(r => s"${vectorsDir(indexDir)}/${r.name}")
    // manifest-referenced runs are committed-before-publish and
    // retained one generation — a missing dir is corruption, and
    // silently querying without it would drop its vectors from every
    // top-k result
    runs.find(d => !f.exists(new Path(d)))
      .foreach(d => throw new IllegalStateException(
        s"index run $d is referenced by the manifest but missing on " +
          "disk — the index is corrupted; restore it or re-ingest"))
    (runs, IngestIndex.deltaDirs(sp, indexDir, AnnFamily.runs,
      m.maxCompacted, beforeBatch).map(_._2))
  }

  /** All live index rows (vec_id, e, norm, cell), cell-pruned when
    * `cells` is given — the pruned read is the query fast path
    * (PartitionFilters on the scan, spec-asserted). */
  def readIndex(sp: SparkSession, indexDir: String,
      cells: Option[Seq[Int]]): DataFrame =
    readIndexWith(IngestIndex.readManifest(sp, indexDir), sp, indexDir,
      cells)

  /** Takes the SAME manifest the caller planned its run set against,
    * both for read consistency and for the split-tombstone gating. */
  private def readIndexWith(m: Manifest, sp: SparkSession,
      indexDir: String, cells: Option[Seq[Int]]): DataFrame = {
    val (runs, deltas) = liveWith(m, sp, indexDir, Long.MaxValue)
    scanOf(sp, runs ++ deltas,
      tombFilter(tombsOf(m, sp, tombDirsWith(m, sp, indexDir))), cells)
  }

  /** The rows (vec_id, e, norm, cell) of the run/delta dirs `dirs`,
    * cell-pruned when `cells` is given, with the tombstone exclusion
    * `clean` applied — a no-op plan when no tombstones are live. */
  private def scanOf(sp: SparkSession, dirs: Seq[String],
      clean: DataFrame => DataFrame, cells: Option[Seq[Int]]): DataFrame = {
    val all = readDirs(sp, dirs)
    // array_contains over an array LITERAL, not isin: generated code
    // inlines an IN list's values, so each distinct cell set would
    // compile a fresh predicate class — once per query, since the
    // optimizer also infers this filter onto the probe side of the
    // query's cell join. An array literal is referenced, not inlined,
    // so every cell set shares one class.
    clean(cells.fold(all)(cs =>
      all.filter(array_contains(lit(cs.toArray), col("cell")))))
      .drop("src_id")
  }

  /** The at-rest schema of every run and delta, pinned on every read:
    * no per-dir schema-inference job, and `e` decodes to
    * `array<double>` under either codec ([[VectorCodecKey]]). */
  private val vecSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("e",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("norm",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.IntegerType)))

  /** Write `df` (vec_id, e, norm, cell) as the cell-partitioned run
    * `name` and return its manifest entry. A fully-tombstoned input
    * writes an empty partitioned dir; the footer count reads it as 0
    * and every later read pins [[vecSchema]], where a schema-inferring
    * read of that dir would throw — wedging compaction permanently
    * (the retry hits the same empty write). */
  private def writeRun(sp: SparkSession, indexDir: String, name: String,
      df: DataFrame, nCells: Int): Run = {
    val dir = s"${vectorsDir(indexDir)}/$name"
    // exchange width bounded by the quantizer size, like ingestBatch:
    // at most |cells| distinct keys exist, and compactions often run
    // inside foreachBatch where AQE cannot coalesce the empties.
    // `nCells` comes from the CALLER's already-loaded quantizer — one
    // compaction was re-reading manifest + centroids JSON per run it
    // wrote (per-call FS round-trips that add up on an object store).
    val w = graft.ops.Spread.cellWidth(sp, math.max(nCells, 1))
    writeCells(sp, dir, df.select(col("vec_id"), col("e"), col("norm"),
      col("cell")).repartition(w, col("cell")))
    // run row count off the just-written footers — saves one Spark job
    // per run written (the drill wall is job-count × dispatch overhead)
    Run(name, IngestIndex.footerRows(sp, Seq(dir)))
  }

  /** Write `df` (vec_id, e, norm, cell), each partition holding whole
    * cells, as the cell-partitioned dir `dir` under the session's codec:
    * one file per cell. */
  private def writeCells(sp: SparkSession, dir: String, df: DataFrame): Unit =
    encodeVec(sp, df).write.mode("overwrite").partitionBy("cell").parquet(dir)

  /** Layout of a held index row: (cell, vec_id, e, norm) — what
    * [[scoreRow]] reads. */
  private val heldSchema = org.apache.spark.sql.types.StructType(
    vecSchema.fields.last +: vecSchema.fields.init)

  /** Write `rows` (held layout, no null cell) as the dir `dir` from the
    * driver ([[IngestIndex.writeFromDriver]]) under the session's codec —
    * like the shuffled write, one file per cell — and return the dir as a
    * read of it decodes: under the f32 codec every element rounds to a
    * float. */
  private def writeLocal(sp: SparkSession, dir: String,
      rows: Seq[InternalRow]): HeldDir = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val round = f32(sp)
    val byCell = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    // the at-rest row: (vec_id, e, norm), its cell the `cell=` dir
    val atRest = org.apache.spark.sql.types.StructType(
      vecSchema.fields.init.map(f => if (round && f.name == "e")
        f.copy(dataType = ArrayType(FloatType)) else f))
    IngestIndex.writeFromDriver(sp, dir, atRest, byCell.map { case (c, rs) =>
      s"cell=$c" -> rs.map { r =>
        InternalRow(if (r.isNullAt(1)) null else r.getLong(1),
          if (r.isNullAt(2)) null
          else if (round) f32Encoded(r.getArray(2)) else r.getArray(2),
          if (r.isNullAt(3)) null else r.getDouble(3))
      }
    })
    val toHeld = UnsafeProjection.create(heldSchema)
    new HeldDir(srcIdOf(dir), byCell.map { case (c, rs) =>
      c -> (if (!round) rs.toArray else rs.map { r =>
        toHeld(InternalRow(c, if (r.isNullAt(1)) null else r.getLong(1),
          if (r.isNullAt(2)) null else f32Decoded(r.getArray(2)),
          if (r.isNullAt(3)) null else r.getDouble(3))).copy(): InternalRow
      }.toArray)
    }.toMap, rows.map(valuesOf).sum, whole = true)
  }

  /** `e` as the f32 codec stores it: each element cast to a float, a
    * null element kept. */
  private def f32Encoded(e: ArrayData): ArrayData =
    new GenericArrayData(Array.tabulate[Any](e.numElements()) { i =>
      if (e.isNullAt(i)) null else e.getDouble(i).toFloat
    })

  /** `e` as a read of it decodes under the f32 codec: each element cast
    * to a float and widened back, a null element kept. */
  private def f32Decoded(e: ArrayData): ArrayData =
    new GenericArrayData(Array.tabulate[Any](e.numElements()) { i =>
      if (e.isNullAt(i)) null else e.getDouble(i).toFloat.toDouble
    })

  /** Vector values of a held row. */
  private def valuesOf(r: InternalRow): Long =
    if (r.isNullAt(2)) 0L else r.getArray(2).numElements.toLong

  /** Read run/delta dirs as ONE scan relation under [[vecSchema]],
    * each row carrying its dir's source id ([[srcIdOf]]) so downstream
    * tombstone anti-joins can source-scope it. One relation keeps the
    * tombstone anti-join in one place: over a union of per-dir scans
    * the optimizer pushes it into every branch with that branch's
    * literal source id folded into the build side — one broadcast job
    * per dir. Writers ([[writeRun]], [[reassign]]) select their
    * columns explicitly, so src_id never reaches disk. */
  private def readDirs(sp: SparkSession, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty)
      sp.createDataFrame(sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        vecSchema.add("src_id", org.apache.spark.sql.types.LongType))
    else {
      val srcIds =
        typedLit(dirs.map(d => new Path(d).getName -> srcIdOf(d)).toMap)
      // every dir is its own partition root; Spark refuses several
      // roots unless told to skip that check
      sp.read.schema(vecSchema)
        .option("ignoreInvalidPartitionPaths", "true").parquet(dirs: _*)
        .withColumn("src_id", coalesce(srcIds(dirName), lit(0L)))
    }

  /** The name of a [[readDirs]] row's dir: its file's grandparent,
    * `<dir>/cell=<c>/<file>`. */
  private def dirName: Column =
    regexp_extract(col("_metadata.file_path"), "([^/]+)/[^/]+/[^/]+$", 1)

  /** Nearest-centroid REassignment that carries each row's current cell
    * through as `old_cell` ([[graft.sim.Ivf.assignCells]] drops extra
    * columns): the split step needs (old_cell, new cell) per row to find
    * movers as a narrow map — no corpus-wide self-join. */
  private def reassign(v: DataFrame, cents: Array[Array[Double]])
      : DataFrame =
    graft.sim.Ivf.withCell(v.select(col("vec_id"), col("e"), col("norm"),
      col("cell").as("old_cell")), cents)

  /** Cell-occupancy skew report, written as `skew_v<upTo>.json` at each
    * compaction. Counts the PHYSICAL runs/deltas directly — a
    * partition-column-only aggregate (parquet footers, no vector bytes
    * read), deliberately WITHOUT the tombstone anti-join the reader
    * path applies: occupancy telemetry describes the layout, and the
    * anti-join would force vec_id reads of the whole corpus whenever a
    * tombstone is live. Cheap even on a big index. EXCEPT right after
    * a heal: the split/fold just computed exact LIVE counts and the
    * mover deltas, and the physical footers still show every stale
    * copy — a report from them reads the healed cell as still-hot and
    * re-fires the stream's skew trigger into a useless full-scan heal
    * attempt every compaction until merges drop the stale copies. The
    * heal passes its adjusted live counts via `liveCounts`, so the
    * cycle after a heal sees honest occupancy. Returns
    * (skew ratio, per-cell counts). */
  private[streaming] def skewReport(sp: SparkSession, indexDir: String,
      upTo: Long, liveCounts: Option[Map[Int, Long]] = None)
      : (Double, Map[Int, Long]) = {
    val counts = liveCounts.getOrElse {
      val (runs, deltas) = live(sp, indexDir, Long.MaxValue)
      physicalCounts(sp, indexDir, runs ++ deltas)
    }
    // skew = max / mean over the QUANTIZER's LIVE cell count, empty
    // cells counting as zero occupancy. Dividing by the populated-cell
    // count (the groupBy's row count) reads TOTAL COLLAPSE — every
    // vector in one cell, the worst drift this telemetry exists for —
    // as "1.0, perfectly balanced", so a retrainSkewAbove trigger
    // would never fire exactly when it is most needed. Dead (folded)
    // slots are excluded the other way: they CANNOT receive rows, so
    // counting them as zero-occupancy cells would inflate skew and
    // spuriously trip the retrain trigger on a healthy folded index.
    val nCells = math.max(
      readCentroids(sp, indexDir).map(liveSlots(_).size).getOrElse(0),
      counts.size)
    val skew =
      if (counts.isEmpty) 0.0
      else counts.values.max.toDouble * nCells / counts.values.sum
    val body = counts.toSeq.sorted.map { case (c, n) => s""""$c": $n""" }
      .mkString("{", ", ", "}")
    // Locale.ROOT: the default-locale f-interpolator writes a comma
    // decimal separator on e.g. de_DE JVMs — malformed JSON that would
    // silently disable the retrainSkewAbove trigger
    val skewTxt = "%.4f".formatLocal(java.util.Locale.ROOT, skew)
    val out = fs(sp, indexDir)
      .create(new Path(s"$indexDir/skew_v$upTo.json"), true)
    try out.write(
      (s"""{"skew": $skewTxt, "cells": $body}""").getBytes("UTF-8"))
    finally out.close()
    (skew, counts)
  }

  /** Per-cell PHYSICAL occupancy of `dirs` (physical rows per cell, no
    * tombstone anti-join): from the held rows when every dir is held, no
    * file opened; else off the parquet footers ([[cellFootersOf]]). */
  private def physicalCounts(sp: SparkSession, indexDir: String,
      dirs: Seq[String]): Map[Int, Long] =
    heldOf(sp, indexDir, dirs).fold(cellFootersOf(sp, dirs))(
      _.flatMap(_.byCell.map { case (c, rs) => c -> rs.length.toLong })
        .groupMapReduce(_._1)(_._2)(_ + _))

  /** Per-cell PHYSICAL occupancy straight off the parquet footers —
    * driver-side, no Spark job: the cell id is the partition dir name
    * and the row count is footer metadata (physical rows per cell, no
    * tombstone anti-join). */
  private def cellFootersOf(sp: SparkSession, dirs: Seq[String])
      : Map[Int, Long] = {
    val conf = sp.sparkContext.hadoopConfiguration
    val acc = scala.collection.mutable.Map.empty[Int, Long]
    dirs.foreach { d =>
      val p = new Path(d)
      val f = p.getFileSystem(conf)
      // a dir whose value is not a cell id (a null-key partition,
      // `cell=__HIVE_DEFAULT_PARTITION__`) holds no countable cell
      if (f.exists(p)) f.listStatus(p).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && n.startsWith("cell="))
          n.stripPrefix("cell=").toIntOption.foreach { c =>
            acc(c) = acc.getOrElse(c, 0L) +
              IngestIndex.footerRows(sp, Seq(s.getPath.toString))
          }
      }
    }
    acc.toMap
  }

  /** Fold the new deltas (id ≤ `upTo`) into a run, merge same-size-class
    * runs, apply and sweep tombstones, commit via the manifest pointer,
    * then delete what it superseded: the run and tombstone policy shared
    * with the dedup gate ([[IngestIndex.mergeSameClass]],
    * [[IngestIndex.Cycle]]) — O(deltas) for a normal cycle, biggest run
    * rewritten only when the corpus doubles. Decision-invariant by
    * construction (same rows, same cells; spec-asserted on query
    * results). Family-specific here: the heal tombstones a split or
    * fold adds to the ledger, orphan heal tombstones, centroid files
    * and skew reports.
    *
    * A fold or merge whose input dirs are all held ([[queryTopK]]),
    * under a held tombstone set, takes its rows from the held rows,
    * keeps those the query paths' rule admits, writes the run from the
    * driver with no Spark job and holds it; the skew report then counts
    * cells from the held rows. A compaction that writes no heal tombstone
    * and deletes no swept one holds the unchanged tombstone set under the
    * new ledger. Otherwise — inputs not held, a tombstone set
    * above [[IngestIndex.TombBroadcastMax]] — the run is read, cleaned
    * and written distributed, as are every heal and the retrain.
    *
    * `retrain = true` is the quantizer-drift escape hatch: re-train the
    * coarse quantizer on the CURRENT corpus (deterministic hash-stride
    * sample), re-assign every row, and write the result as one run plus
    * a `centroids_v<upTo>.json` — all committed by the SAME single
    * manifest swap (`runs` + `cents` flip together), so queries never
    * see new cells under old centroids or vice versa. This is a
    * deliberate full rewrite (the cost of changing the hash of a
    * hash-partitioned index) — reach for it when [[skewReport]] says
    * the frozen quantizer no longer fits the feed. */
  def compact(sp: SparkSession, indexDir: String, upTo: Long,
              retrain: Boolean = false, splitHot: Double = 0.0,
              foldColdBelow: Double = 0.0): Unit =
    IngestIndex.withWriterLease(sp, indexDir)(
      compactLocked(sp, indexDir, upTo, retrain, splitHot, foldColdBelow))

  private def compactLocked(sp: SparkSession, indexDir: String, upTo: Long,
      retrain: Boolean, splitHot: Double, foldColdBelow: Double): Unit = {
    val m = IngestIndex.readManifest(sp, indexDir)
    if (upTo <= m.maxCompacted) return
    val (runDirs, deltaDirs) = live(sp, indexDir, upTo + 1)
    val f = fs(sp, indexDir)
    var runs = m.runs.getOrElse("vectors", Nil)
    var cents = m.cents
    // current quantizer slot count, read ONCE for the whole compaction
    // (writeRun was re-reading manifest + centroids file per run):
    // fold/merge runs are written under the pre-heal quantizer; the
    // heal paths pass their own new quantizer's length explicitly
    val preSlots = centroidsOf(m, sp, indexDir).map(_.length).getOrElse(1)
    // heal tombstones written THIS compaction (split and/or fold) —
    // both live in the manifest-gated t_split_* namespace
    val healTombs = scala.collection.mutable.ArrayBuffer.empty[Run]
    // exact post-heal live occupancy (the heal's scan counts adjusted
    // by its mover deltas) — fed to skewReport so the cycle after a
    // heal is not re-triggered by stale physical copies
    var healedCounts: Option[Map[Int, Long]] = None
    def adjustCounts(pre: Map[Int, Long],
        movers: DataFrame): Map[Int, Long] = {
      // ONE aggregation job for both tallies (was two collects over
      // the persisted movers — the drill wall is job-count × dispatch)
      val pairs = movers.groupBy("old_cell", "cell")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      val out = pairs.groupBy(_._1).map { case (c, xs) =>
        c -> xs.map(_._3).sum }
      val in = pairs.groupBy(_._2).map { case (c, xs) =>
        c -> xs.map(_._3).sum }
      (pre.keySet ++ in.keySet).map { c =>
        c -> (pre.getOrElse(c, 0L) - out.getOrElse(c, 0L) +
          in.getOrElse(c, 0L))
      }.filter(_._2 > 0).toMap
    }
    var seq = 0
    def nextName(): String = { val n = s"run_${upTo}_$seq"; seq += 1; n }
    // ONE heal-commit implementation for the split AND the fold — the
    // two heals differ only in slot selection, and their commit
    // machinery (relocation run + cell-scoped source-scoped tombstone
    // in the reserved t_split_* namespace, applied-at upTo+1 +
    // quantizer file + post-heal live telemetry, all recorded for the
    // single manifest swap below) must never drift apart. `movers`
    // must carry (vec_id, e, norm, cell, old_cell); `tag` is "" for
    // the split, "f" for the fold (heals serialize, so same-cycle
    // collisions are impossible — the suffix just keeps the
    // artifact's origin readable on disk).
    def commitHeal(movers: DataFrame, newCents: Array[Array[Double]],
        tag: String, counts: Map[Int, Long]): Unit = {
      val reloc = writeRun(sp, indexDir, nextName(),
        movers.select("vec_id", "e", "norm", "cell"), newCents.length)
      if (reloc.rows > 0) {
        runs = (runs :+ reloc).sortBy(-_.rows)
        movers.select(col("vec_id"),
          col("old_cell").cast("int").as("cell"))
          .write.mode("overwrite")
          .parquet(s"${tombsDir(indexDir)}/t_split_$tag$upTo")
        healTombs += Run(s"t_split_$tag$upTo", upTo + 1)
      }
      val centsName =
        if (tag.isEmpty) s"centroids_v$upTo.json"
        else s"centroids_v${upTo}_$tag.json"
      writeCentroids(sp, indexDir, newCents, centsName)
      cents = Some(centsName)
      healedCounts = Some(adjustCounts(counts, movers))
    }
    val cycle = AnnFamily.open(m, tombDirsWith(m, sp, indexDir), upTo)
    val liveTombPaths = cycle.live
    val tombs = tombsOf(m, sp, liveTombPaths)
    val clean = tombFilter(tombs)
    if (retrain) {
      if (runDirs.isEmpty && deltaDirs.isEmpty) return
      // clean BEFORE dropping the cell column: relocation tombstones
      // are cell-scoped and need the row's current cell to match
      val corpus = clean(readDirs(sp, runDirs ++ deltaDirs))
        .select("vec_id", "e", "norm").persist()
      if (corpus.isEmpty) {
        // fully-tombstoned corpus: there is nothing to train a
        // quantizer on (Ivf.centroids on zero rows throws), and an
        // unguarded throw here WEDGES compaction — retrainOnCompact /
        // a tripped skew trigger re-fires every cycle into the same
        // state, the tombstone stays live forever, and maxCompacted
        // never advances. Commit an empty run set instead (quantizer
        // pointer unchanged) and let the normal tombstone lifecycle
        // below apply-and-sweep as usual.
        corpus.unpersist(false)
        runs = Nil
      } else {
        // retrain width = LIVE slot count: a full rebuild writes a
        // fresh positional array, and carrying dead (folded) slots
        // into it would resurrect them as real cells
        val nCells = readCentroids(sp, indexDir)
          .map(c => math.max(1, liveSlots(c).size)).getOrElse(DefaultCells)
        val newCents = graft.sim.Ivf.centroids(corpus, nCells)
        val centsName = s"centroids_v$upTo.json"
        writeCentroids(sp, indexDir, newCents, centsName)
        val rebuilt = writeRun(sp, indexDir, nextName(),
          graft.sim.Ivf.assignCells(corpus, newCents), newCents.length)
        corpus.unpersist(false)
        runs = Seq(rebuilt)
        cents = Some(centsName)
      }
    } else {
      // a fold or merge over held inputs is written from the held rows
      def written(inputs: Seq[String]): Run = {
        val name = nextName()
        heldRun(sp, indexDir, name, inputs, tombs).getOrElse(
          writeRun(sp, indexDir, name, clean(readDirs(sp, inputs)), preSlots))
      }
      val fold = if (deltaDirs.isEmpty) None else Some(written(deltaDirs))
      runs = IngestIndex.mergeSameClass(runs ++ fold.filter(_.rows > 0)) {
        (a, b) => written(
          Seq(a, b).map(r => s"${vectorsDir(indexDir)}/${r.name}"))
      }._1
    }
    // ---- split-cell LOCAL retrain ------------------------------------------
    // The affordable self-heal for moderate drift: instead of the
    // all-or-nothing full rebuild (`retrain = true` — the cost of
    // re-hashing a hash-partitioned index), re-cluster ONLY the cells
    // whose LIVE occupancy exceeds `splitHot` × mean. Each hot cell's
    // centroid slot is replaced by its first sub-centroid and the rest
    // are APPENDED (slot positions are cell ids — untouched cells keep
    // their ids, files, and assignments). Rows whose argmin changes
    // under the extended quantizer are rewritten ONCE into a relocation
    // run under their new cells; their stale old-cell copies stay
    // physically in place but are excluded by a CELL-SCOPED tombstone
    // (vec_id, old_cell) and physically dropped as their runs merge.
    // Everything — relocation run, tombstone record, extended
    // centroids file — commits in the SAME single manifest swap below,
    // so queries never see new cells under the old quantizer or vice
    // versa. The tombstone's applied-at id is upTo+1: runs written
    // THIS cycle (the fold/merge above) still hold stale copies, so
    // only strictly-later runs count as clean for its sweep — and the
    // anti-join SOURCE-SCOPES the exclusion the same way (src_id <
    // applied-at), so a vec_id re-ingested after the split whose new
    // embedding lands back in its old cell is NOT mistaken for the
    // stale copy.
    // Bytes rewritten = movers only (hot-cell rows that leave their
    // slot + boundary rows pulled to a new sub-centroid) — the <20%%
    // heal the full rebuild could not offer. The hot/mover scan uses
    // the LIVE view (tombstone-applied), so re-running after a heal is
    // a cheap no-op even while skewReport's PHYSICAL counts still show
    // the stale copies.
    // Known upgrade path if heals become frequent: the mover scan is
    // ONE full read pass (narrow map, no shuffle — BENCH_SCALE.md's
    // "split heal vs full rebuild" row shows the write savings dominate
    // from ~500k vectors up). A per-run
    // per-cell max-radius sidecar would prune it to at-risk cells via
    // the bisector bound (cell d can lose rows to new centroid k only
    // if dist(c_d, k) < 2·R_d), honored only for runs stamped with the
    // current quantizer version; not built yet because splits are
    // drift-rare and the scan is the cheap half of the heal.
    var splitThisCycle = false
    def liveAll() = clean(readDirs(sp,
      runs.map(r => s"${vectorsDir(indexDir)}/${r.name}")))
    if (!retrain && splitHot > 0 && runs.nonEmpty) {
      readCentroidsFile(sp, indexDir,
          cents.getOrElse("centroids.json")).foreach { base =>
        val nC = liveSlots(base).size
        // exact live occupancy from an UNPERSISTED plan: Catalyst
        // prunes the scan to (vec_id, cell, src_id) — the embedding
        // bytes, the dominant read cost, are touched only when a heal
        // actually fires below
        val counts = liveAll().groupBy("cell")
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        // record the LIVE view even when nothing is hot: a scan that
        // finds no heal must still feed skewReport, or the next
        // cycle's PHYSICAL fallback (stale copies included) would
        // re-read as hot and re-trigger this full scan on every
        // compaction of a slow-growing stream
        healedCounts = Some(counts)
        val total = counts.values.sum
        val mean = total.toDouble / nC
        val hot = counts.filter { case (_, n) => n > splitHot * mean }
          .keys.toSeq.sorted
        if (total > 0 && hot.nonEmpty) {
          val liveRows = liveAll().persist() // WITH vectors, heal-only
          try {
            val buf = base.clone()
            val appended =
              scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
            hot.foreach { c =>
              // sub-cell count sized so healed occupancy ≈ mean
              val sub = graft.sim.Ivf.centroids(
                liveRows.filter(col("cell") === c)
                  .select("vec_id", "e", "norm"),
                math.max(2, math.min(64,
                  math.round(counts(c) / math.max(mean, 1.0)).toInt)),
                nHint = counts(c))
              buf(c) = sub(0)
              appended ++= sub.tail
            }
            val full = buf ++ appended.toArray
            val moved = reassign(liveRows, full)
              .filter(col("cell") =!= col("old_cell")).persist()
            try {
              commitHeal(moved, full, "", counts)
              splitThisCycle = true
            } finally { moved.unpersist(false); () }
          } finally { liveRows.unpersist(false); () }
        }
      }
    }
    // ---- cold-cell FOLD (the split's inverse) --------------------------------
    // Split-only healing grows the quantizer monotonically: every heal
    // APPENDS sub-centroids and nothing ever removes a cell that
    // drained (drift moved the feed away, or a takedown wave emptied
    // it), so a long-drifting stream accretes centroids — and with
    // them per-row argmin cost and partition-set width — without
    // bound. The fold is the inverse operation on the SAME machinery:
    // cells whose LIVE occupancy is below `foldColdBelow` × mean are
    // DEADENED in place (their slot keeps its id — slot ids ARE cell
    // ids, so survivors must never renumber — but the centroid becomes
    // all-NaN, which no argmin and no probe set can select), their
    // remaining rows are rewritten ONCE into a relocation run under
    // their nearest SURVIVING cells, and the stale cold-cell copies
    // are excluded by a cell-scoped, source-scoped, manifest-gated
    // tombstone (t_split_f<id> — same reserved namespace, lifecycle,
    // and crash-orphan story as the split's). Quantizer file,
    // relocation run, and tombstone commit in the ONE manifest swap
    // below. Cost control: the exact cold determination needs the
    // LIVE view (a full read pass), so a footer-only pre-check
    // (partition-column counts, no vector bytes) skips it whenever no
    // cell is even PHYSICALLY below threshold — physical ≥ live can
    // delay a fold behind stale copies for a cycle or two (harmless —
    // merges drop the stale copies and the footer count converges),
    // never trigger a wasted scan.
    //
    // AT MOST ONE HEAL PER COMPACTION: when the split ran this cycle,
    // the fold DEFERS to the next one. Applied-at scoping works at
    // run-ID granularity, and two heals in one cycle share run ids
    // (run_<upTo>_*) — a fold relocating a row BACK into a cell the
    // same-cycle split just tombstoned would write a live copy with
    // src_id < the split tombstone's applied-at, and the anti-join
    // would eat it (the heal-soak drill caught exactly this: split
    // moved boundary rows into fresh sub-cells, the fold — whose live
    // view predates the split's tombstone and whose mean was inflated
    // by the stale copies — judged those brand-new sub-cells cold and
    // bounced the rows straight back). Serialized heals can never
    // collide: a fold's reloc rows carry src_id = upTo, and every
    // tombstone from an EARLIER cycle has applied-at ≤ upTo.
    if (!retrain && foldColdBelow > 0 && !splitThisCycle &&
        runs.nonEmpty) {
      readCentroidsFile(sp, indexDir,
          cents.getOrElse("centroids.json")).foreach { base =>
        val live = liveSlots(base)
        // the live view, when some path already paid for it THIS
        // cycle: a split scan that found nothing hot recorded its
        // counts in healedCounts (the run set is unchanged since —
        // a split heal would have set splitThisCycle and skipped the
        // fold entirely), so the fold never re-reads what the split
        // just counted
        val counts: Option[Map[Int, Long]] = healedCounts.orElse {
          // physical pre-check straight off the footers (driver-side,
          // no job)
          val footer = physicalCounts(sp, indexDir,
            runs.map(r => s"${vectorsDir(indexDir)}/${r.name}"))
          val fMean = footer.values.sum.toDouble / math.max(live.size, 1)
          // while tombstones are LIVE, physical counts overstate live
          // occupancy (a takedown wave that just drained a cell is
          // exactly the fold's trigger scenario) — defer to the exact
          // scan; tombstones are transient, so the steady no-tombstone
          // case keeps the zero-cost skip. The exact scan itself is
          // column-pruned (vec_id, cell, src_id — no vector bytes)
          val maybeCold = liveTombPaths.nonEmpty || live.exists(c =>
            footer.getOrElse(c, 0L) < foldColdBelow * fMean)
          if (live.size > 1 && footer.values.sum > 0 && maybeCold) {
            val c = liveAll().groupBy("cell")
              .agg(count(lit(1)).as("n")).collect()
              .map(r => r.getInt(0) -> r.getLong(1)).toMap
            // record the live view even when no fold fires (same
            // telemetry contract as the split scan)
            healedCounts = Some(c)
            Some(c)
          } else None
        }
        counts.foreach { cnt =>
          val total = cnt.values.sum
          val mean = total.toDouble / live.size
          val cold = live.filter(c =>
            cnt.getOrElse(c, 0L) < foldColdBelow * mean)
          val survivors = live.filterNot(cold.contains)
          // never fold the last survivors: rows need a live argmin
          if (live.size > 1 && total > 0 && cold.nonEmpty &&
              survivors.nonEmpty) {
            val buf = base.clone()
            cold.foreach(c =>
              buf(c) = Array.fill(base(c).length)(Double.NaN))
            // only the COLD cells' residents move — a cell-PRUNED
            // read (cell is the runs' partition column), never the
            // full-corpus vector pass the split needs
            val movers = reassign(
              liveAll().filter(col("cell").isin(cold: _*)), buf)
              .persist()
            try commitHeal(movers, buf, "f", cnt)
            finally { movers.unpersist(false); () }
          }
        }
      }
    }
    cycle.deleteSwept(f, tombsDir(indexDir))
    val next = Manifest(upTo, cycle.entries(runs, healTombs.toSeq), cents)
    IngestIndex.writeManifest(sp, indexDir, next)
    // orphan stage dirs go with the superseded ones: a driver-side write
    // that died before its rename (IngestIndex.writeFromDriver) leaves a
    // `_stage_<name>` dir no listing reads, and every such write runs
    // under the writer lease this compaction holds, so any stage dir it
    // sees is dead
    def staged(d: Path) = d.getName.startsWith("_stage_")
    val p = new Path(vectorsDir(indexDir))
    if (f.exists(p))
      f.listStatus(p).map(_.getPath)
        .filter(d => cycle.superseded(runs)(d.getName) || staged(d))
        .foreach { d => f.delete(d, true); () }
    // orphan split-tombstone dirs — a crash between a previous split's
    // tombstone write and its manifest publish: inert for every reader
    // and compaction (manifest-gated in tombDirs), collected here so
    // they do not accumulate
    val keptTombNames = AnnFamily.applied(next).map(_.name).toSet
    val tombsRoot = new Path(tombsDir(indexDir))
    if (f.exists(tombsRoot)) {
      f.listStatus(tombsRoot).toSeq.map(_.getPath).foreach { d =>
        if (staged(d) ||
            d.getName.startsWith("t_split_") && !keptTombNames(d.getName)) {
          f.delete(d, true); ()
        }
      }
    }
    // with no heal tombstone added and no swept dir deleted, the live
    // tombstone dirs are the ones the set was collected from, and a
    // ledger record only moves from tombs to tswept with its id: the set
    // is unchanged, so hold it under the new ledger too
    if (liveTombPaths.nonEmpty && healTombs.isEmpty &&
        AnnFamily.swept(m).isEmpty)
      tombs.foreach(set => IngestIndex.tombHold(sp,
        tombDirsWith(next, sp, indexDir), "ann", ledgerOf(next), Some(set)))
    // this compaction's skew report is written BEFORE older ones are
    // deleted, and the cleanup filter excludes the new file by name: the
    // reverse order (delete-all, then write) had a crash window in which
    // NO skew report exists, so lastSkew() reads None and the
    // retrainSkewAbove trigger is silently disabled for the next
    // compaction interval — mirrors the keep-current-and-previous rule
    // used for the centroids files
    skewReport(sp, indexDir, upTo, healedCounts)
    // superseded retrain quantizers and older skew reports: the
    // manifest-referenced centroids file, the PREVIOUS one (readers of
    // the prior manifest may still resolve it), the original fallback,
    // and the latest skew telemetry stay — a forever stream must not
    // accumulate one sidecar file per compaction
    f.listStatus(new Path(indexDir)).toSeq.map(_.getPath)
      .filter { d =>
        val n = d.getName
        (n.matches("centroids_v\\d+(_f)?\\.json") &&
          !cents.contains(n) && !m.cents.contains(n)) ||
          n.matches("centroids.*\\.json\\.tmp") || // crashed quantizer publish
          (n.matches("skew_v\\d+\\.json") && n != s"skew_v$upTo.json")
      }
      .foreach { d => f.delete(d, false); () }
    ()
  }

  /** Top-k cosine neighbors of `queries` (vec_id, embedding) against
    * the persisted index, probing each query's `nProbe` nearest cells:
    * (vec_id, rank, nb_id, cos_r) rows, ranked by (cos desc, nb_id asc;
    * a NaN cos first, see [[graft.agg.TopKAgg.before]]), `cos_r` =
    * `round(cos, 6)`. Self-matches (same vec_id) are kept — callers
    * screening a corpus against itself filter them.
    *
    * EAGER: the query set is collected and the index scored when this
    * is called, and the result is a local frame — a snapshot of the
    * index at the call, which a later ingest, delete or compaction does
    * not change. The driver copy of `queries` is the call's only
    * evaluation of it, so a caller frame with a non-deterministic row
    * set (an unordered `limit`, a `sample`) yields consistent probes and
    * vectors per row. Probes are assigned on the driver against the
    * in-memory quantizer ([[graft.sim.Ivf.probeCells]], the same
    * nearest-first, id-tie order as [[graft.sim.Ivf.assignProbes]]).
    *
    * Two paths score the probed cells, with bit-identical rows; both run
    * every index row of a probed cell through [[scoreRow]] (the same
    * [[graft.expr.DotProduct.fold]] and [[graft.expr.Cosine.of]] the
    * Catalyst forms run, into a bounded [[graft.agg.TopKAgg]] buffer
    * per query), and `cos_r` is rounded on the driver with Spark's
    * `round` rule ([[graft.ops.StatsMath.round]]).
    *  - HELD, no Spark job on a hit: the decoded rows of every live run
    *    and delta dir are held on the driver ([[heldDirs]]), one entry
    *    per dir keyed by [[IngestIndex.dirKey]]; runs and deltas do not
    *    change once published, so a dir is decoded once. A query whose
    *    dirs are all held scores them in plain Scala under the held
    *    tombstone set. The writers hold what they write: a driver-side
    *    [[ingestBatch]], a [[compact]] fold or merge over held inputs and
    *    a small [[delete]], so the query after them reads nothing. A
    *    query that finds a dir missing (the index was not held when it
    *    was written, or a distributed write or heal wrote it) first reads
    *    every missing dir — all its cells — in one job. This path serves
    *    an index whose rows × dim fit under [[HeldMaxValues]] with a
    *    tombstone set of at most [[IngestIndex.TombBroadcastMax]] rows.
    *  - DISTRIBUTED, one Spark job: otherwise the probed cell set
    *    (≤ nCells values) prunes one scan relation over every live dir
    *    ([[queryScan]]); the probe table (cell → query id, vector, norm)
    *    ships in the task closure, each task keeps its bounded buffers,
    *    and the driver merges them — at most partitions × queries × k
    *    pairs come back.
    * The first query after a tombstone-set change that no writer held —
    * a same-tag overwrite, a set above the cap, a compaction that writes
    * a heal tombstone or deletes a swept one — adds one job, which
    * collects the set ([[tombsOf]]). */
  def queryTopK(sp: SparkSession, indexDir: String, queries: DataFrame,
                k: Int = 3, nProbe: Int = 1): DataFrame =
    queryTopKWith(sp, indexDir, queries, k, nProbe, HeldMaxValues)

  /** [[queryTopK]] with the held path's cap `heldMax` (vector values of
    * the held rows over every index); an index above it is served
    * distributed. */
  private[streaming] def queryTopKWith(sp: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, nProbe: Int, heldMax: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.types._
    import graft.agg.TopKAgg
    // ONE manifest read for both the quantizer and the run set: a
    // retrain commit between two separate reads would pair old
    // centroids with new-quantizer cell ids — same value range,
    // semantically wrong cells, silent recall collapse
    val m = IngestIndex.readManifest(sp, indexDir)
    val cents = centroidsOf(m, sp, indexDir).getOrElse(
      throw new IllegalStateException(
        s"no centroids at $indexDir — ingest at least one batch first"))
    // (cell, (query vec_id, vector, norm)) per probe. The query rows are
    // collected as given and `e`/`norm` derived here, bit-identical to
    // Similarity.prep: a null embedding is dropped, elements are cast to
    // double, a null element reads 0.0 (as prep's dot reads it) and the
    // norm is the same left-fold dot under sqrt
    val probes = queries.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .collect().toSeq.filterNot(_.isNullAt(1))
      .flatMap { r =>
        val e = r.getSeq[Double](1).toArray
        val ea = UnsafeArrayData.fromPrimitiveArray(e)
        val norm = math.sqrt(graft.expr.DotProduct.fold(ea, ea))
        graft.sim.Ivf.probeCells(cents, e, nProbe)
          .map(c => c -> (r.getLong(0), ea: ArrayData, norm))
      }
    val byCell = probes.groupBy(_._1)
      .map { case (c, ps) => c -> ps.map(_._2).toArray }
    val partial: Seq[Array[(Long, Seq[(Double, Long)])]] =
      if (byCell.isEmpty) Nil
      else {
        val (runs, deltas) = liveWith(m, sp, indexDir, Long.MaxValue)
        val dirs = runs ++ deltas
        val tombs = tombsOf(m, sp, tombDirsWith(m, sp, indexDir))
        val held = tombs.toOption.flatMap(set => heldDirs(sp, indexDir, m,
          dirs, cents.headOption.fold(0)(_.length), heldMax).map(set -> _))
        held match {
          case Some((set, hs)) =>
            val bufs = scala.collection.mutable.HashMap
              .empty[Long, Seq[(Double, Long)]]
            for (c <- byCell.keys; h <- hs;
                 r <- h.byCell.getOrElse(c, Array.empty[InternalRow]))
              if (set.admits(r, c, h.src)) scoreRow(byCell, k, bufs, r)
            Seq(bufs.toArray)
          case None =>
            scanOf(sp, dirs, tombFilter(tombs), Some(byCell.keys.toSeq))
              .select(col("cell"), col("vec_id"), col("e"), col("norm"))
              .queryExecution.toRdd.mapPartitions { rows =>
                val bufs = scala.collection.mutable.HashMap
                  .empty[Long, Seq[(Double, Long)]]
                rows.foreach(scoreRow(byCell, k, bufs, _))
                Iterator.single(bufs.toArray)
              }.collect().toSeq
        }
      }
    val merged = partial.flatten.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, bs) =>
        q -> bs.map(_._2).reduce(TopKAgg.merge(_, _, k)) }
    val out = merged.flatMap { case (q, buf) =>
      buf.zipWithIndex.map { case ((cos, nb), i) =>
        Row(q, i + 1, nb, graft.ops.StatsMath.round(cos, 6)) }
    }
    sp.createDataFrame(out.asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("rank", IntegerType),
      StructField("nb_id", LongType), StructField("cos_r", DoubleType))))
  }

  /** Score one index row (cell, vec_id, e, norm) against every probe of
    * its cell — the per-row body of both query paths: for each probe,
    * `Cosine.of(DotProduct.fold(..))` enters the query's bounded top-k
    * buffer in `bufs`. A row with a null cell scores nothing. */
  private def scoreRow(
      byCell: Map[Int, Array[(Long, ArrayData, Double)]], k: Int,
      bufs: scala.collection.mutable.HashMap[Long, Seq[(Double, Long)]],
      r: InternalRow): Unit =
    if (!r.isNullAt(0)) byCell.get(r.getInt(0)).foreach { ps =>
      val (nbId, eb, nb) = (r.getLong(1), r.getArray(2), r.getDouble(3))
      ps.foreach { case (q, ea, na) =>
        val cos = graft.expr.Cosine.of(
          graft.expr.DotProduct.fold(ea, eb), na, nb)
        bufs(q) = graft.agg.TopKAgg.insert(
          bufs.getOrElse(q, Vector.empty), (cos, nbId), k)
      }
    }

  /** The index rows a query over `cells` scores on the distributed path:
    * (cell, vec_id, e, norm), partition-pruned to `cells`, tombstones
    * excluded. */
  private[streaming] def queryScan(m: Manifest, sp: SparkSession,
      indexDir: String, cells: Seq[Int]): DataFrame =
    readIndexWith(m, sp, indexDir, Some(cells))
      .select(col("cell"), col("vec_id"), col("e"), col("norm"))

  /** Cap of the held query path ([[queryTopK]]): the vector values
    * (rows × dim) of the decoded rows held over every index in the JVM —
    * 2^22 doubles, 32 MB. The largest catalog ANN corpus is 2,000
    * vectors at sf0.1; the repo benchmark's 64-d index ends near 2,500. */
  private[streaming] val HeldMaxValues = 1L << 22

  /** The decoded rows of one run or delta dir in the held layout
    * ([[heldSchema]], as the query scan projects them; a row read back
    * carries its dir name after them), grouped by cell; with the dir's
    * source id ([[srcIdOf]]), its count of vector values, and whether it
    * is `whole`: no row with a null cell was left out. */
  private final class HeldDir(val src: Long,
      val byCell: Map[Int, Array[InternalRow]], val values: Long,
      val whole: Boolean)

  /** The held dirs: qualified index path → ([[IngestIndex.dirKey]] →
    * rows), least recently queried index first. Guarded by itself. */
  private val held =
    new java.util.LinkedHashMap[String, Map[String, HeldDir]](16, 0.75f, true)

  /** (dirs held, vector values held) for `indexDir` — the held path's
    * gauge, beside [[IngestIndex.bloomCacheSize]]. Reading it leaves
    * the eviction order as it was. */
  private[graft] def heldSizes(sp: SparkSession, indexDir: String)
      : (Int, Long) = {
    val ix = qualified(sp, indexDir)
    held.synchronized {
      held.entrySet.asScala.find(_.getKey == ix).map(_.getValue)
        .fold((0, 0L))(ds => (ds.size, ds.values.map(_.values).sum))
    }
  }

  private def qualified(sp: SparkSession, dir: String): String =
    fs(sp, dir).makeQualified(new Path(dir)).toString

  /** The held rows of the live dirs `dirs` of `indexDir`, in order, or
    * None when the index is served distributed: its rows × `dim` would
    * exceed `cap`, or a dir has no readable key. Entries of dirs that
    * left the live set are dropped first. Missing dirs are read whole —
    * every cell, so a later query probing other cells hits — in ONE job,
    * through the same [[readDirs]] relation and pinned [[vecSchema]] as
    * the scan: an f32 run upcasts exactly as the scan does, and a null
    * element keeps the zero the scan reads. The size is checked first:
    * the runs' rows are in the manifest, so an index whose runs alone are
    * above the cap is sent to the distributed path before any listing;
    * a missing delta's rows come off its footers. Least recently queried
    * indexes are evicted until the held total fits under `cap`. */
  private def heldDirs(sp: SparkSession, indexDir: String, m: Manifest,
      dirs: Seq[String], dim: Int, cap: Long): Option[Seq[HeldDir]] = {
    val ix = qualified(sp, indexDir)
    def unheld: Option[Seq[HeldDir]] = {
      held.synchronized(held.remove(ix))
      None
    }
    val runRows = m.runs.getOrElse("vectors", Nil)
      .map(r => r.name -> r.rows).toMap
    if (runRows.values.sum * dim > cap) return unheld
    val keyed = dirs.map(d => d -> IngestIndex.dirKey(sp, d))
    if (keyed.exists(_._2.isEmpty)) return None
    val live = keyed.map { case (d, key) => d -> key.get }
    val liveKeys = live.map(_._2).toSet
    val kept = held.synchronized {
      val k = Option(held.remove(ix)).getOrElse(Map.empty[String, HeldDir])
        .filter { case (key, _) => liveKeys(key) }
      if (k.nonEmpty) held.put(ix, k)
      k
    }
    val missing = live.filterNot { case (_, key) => kept.contains(key) }
    val want = kept.values.map(_.values).sum + missing.map { case (d, _) =>
      runRows.getOrElse(new Path(d).getName,
        cellFootersOf(sp, Seq(d)).values.sum) * dim
    }.sum
    if (want > cap) return unheld
    val all = kept ++ loadDirs(sp, missing)
    hold(ix, all, cap)
    Some(live.map { case (_, key) => all(key) })
  }

  /** Hold `dirs` as the rows of index `ix`, then evict least recently
    * used indexes until the held total fits under `cap` — and `ix` too if
    * it alone is above it. */
  private def hold(ix: String, dirs: Map[String, HeldDir], cap: Long): Unit =
    held.synchronized {
      held.put(ix, dirs)
      def size(e: Map[String, HeldDir]) = e.values.map(_.values).sum
      var total = held.values.asScala.map(size).sum
      val it = held.entrySet.iterator
      while (total > cap && it.hasNext) {
        val e = it.next()
        if (e.getKey != ix) { total -= size(e.getValue); it.remove() }
      }
      // `ix` alone is above the cap (a size estimate undercounted, rows
      // of another dim): keep the bound
      if (total > cap) held.remove(ix)
    }

  /** The held rows of `dirs` of `indexDir`, in order, when every one is
    * held. */
  private def heldOf(sp: SparkSession, indexDir: String, dirs: Seq[String])
      : Option[Seq[HeldDir]] =
    held.synchronized(Option(held.get(qualified(sp, indexDir)))).flatMap {
      hs =>
        val got = dirs.flatMap(d => IngestIndex.dirKey(sp, d).flatMap(hs.get))
        Option.when(got.length == dirs.length)(got)
    }

  /** Hold `h`, the rows just written as `dir` of `indexDir`, in place of
    * what was held for an earlier write of `dir` and for the dirs `drop`
    * it replaces — only for an index whose rows are held already, and
    * under the held cap. */
  private def holdWritten(sp: SparkSession, indexDir: String, dir: String,
      h: HeldDir, drop: Seq[String]): Unit = {
    val ix = qualified(sp, indexDir)
    if (held.synchronized(held.containsKey(ix)))
      IngestIndex.dirKey(sp, dir).foreach { key =>
        val gone = (dir +: drop).map(d => qualified(sp, d) + "@")
        held.synchronized(Option(held.get(ix)).foreach { hs =>
          hold(ix, hs.filterNot { case (k, _) => gone.exists(k.startsWith) } +
            (key -> h), HeldMaxValues)
        })
      }
  }

  /** The run `name` of `indexDir` from the held rows of `inputs`, when
    * each is held whole and the live tombstone set `tombs` is held: the
    * rows it admits — the rule of both query paths — written from the
    * driver with no Spark job ([[writeLocal]]) and held in turn; a set
    * that admits none writes an empty run. None when the distributed
    * read and write must serve. */
  private def heldRun(sp: SparkSession, indexDir: String, name: String,
      inputs: Seq[String], tombs: Either[DataFrame, TombSet])
      : Option[Run] =
    tombs.toOption.flatMap { set =>
      heldOf(sp, indexDir, inputs).filter(_.forall(_.whole)).map { hs =>
        val rows = for (h <- hs; (c, rs) <- h.byCell.toSeq;
                        r <- rs.toSeq if set.admits(r, c, h.src)) yield r
        val dir = s"${vectorsDir(indexDir)}/$name"
        holdWritten(sp, indexDir, dir, writeLocal(sp, dir, rows), inputs)
        Run(name, rows.length)
      }
    }

  /** Read the run/delta dirs `dirs` (dir → its key) whole in one job and
    * decode them into [[HeldDir]]s by key. */
  private def loadDirs(sp: SparkSession, dirs: Seq[(String, String)])
      : Map[String, HeldDir] =
    if (dirs.isEmpty) Map.empty
    else {
      val rows = readDirs(sp, dirs.map(_._1))
        .select(col("cell"), col("vec_id"), col("e"), col("norm"), dirName)
        .queryExecution.toRdd.mapPartitions(_.map(_.copy())).collect()
        .groupBy(_.getUTF8String(4).toString)
      dirs.map { case (d, key) =>
        val rs = rows.getOrElse(new Path(d).getName, Array.empty[InternalRow])
        key -> new HeldDir(srcIdOf(d),
          rs.filterNot(_.isNullAt(0)).groupBy(_.getInt(0)),
          rs.map(valuesOf).sum, whole = !rs.exists(_.isNullAt(0)))
      }.toMap
    }

  /** Skew ratio recorded by the most recent compaction (None before
    * the first one). One tiny JSON read — the consumer side of
    * [[skewReport]], used by the auto-retrain trigger. */
  private[graft] def lastSkew(sp: SparkSession, indexDir: String)
      : Option[Double] = {
    val f = fs(sp, indexDir)
    val dir = new Path(indexDir)
    if (!f.exists(dir)) return None
    val latest = f.listStatus(dir).toSeq.map(_.getPath.getName)
      .flatMap { n =>
        "skew_v(\\d+)\\.json".r.findFirstMatchIn(n)
          .map(m => (m.group(1).toLong, n))
      }.sortBy(-_._1).headOption
    latest.flatMap { case (_, name) =>
      val in = f.open(new Path(s"$indexDir/$name"))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      "\"skew\"\\s*:\\s*([0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
    }
  }

  /** Does `indexDir` hold vector state from a previous run? */
  private def nonEmpty(sp: SparkSession, indexDir: String): Boolean = {
    val f = fs(sp, indexDir)
    f.exists(centroidsPath(indexDir, "centroids.json")) ||
      f.exists(new Path(vectorsDir(indexDir)))
  }

  /** Start the streaming ingest. Same restart contract as
    * [[StreamOps.dedupIngestStream]]: resuming over a non-empty index
    * without a checkpoint is refused (batch ids would restart at 0 and
    * overwrite committed deltas); `compactEvery` > 0 folds the index
    * periodically so delta-dir count stays bounded on a forever
    * stream. `retrainOnCompact` opts every compaction into the
    * quantizer rebuild ([[compact]]'s `retrain`); `retrainSkewAbove`
    * closes the telemetry loop instead — when the LAST compaction's
    * recorded cell skew ([[skewReport]], max/mean occupancy) exceeds
    * the threshold, THIS compaction retrains. Feeds whose distribution
    * drifts past the frozen first-batch quantizer then self-heal at
    * the next compaction boundary, paying the full rebuild only when
    * the index's own telemetry says pruning has degraded (~2-4 is a
    * sensible threshold; ∞ = never, the default). `splitSkewAbove` is
    * the CHEAPER heal on the same trigger: when the recorded skew
    * exceeds it, this compaction runs the split-cell LOCAL retrain
    * ([[compact]]'s `splitHot`, with the same value as the hot-cell
    * factor — skew > f guarantees at least the max cell is hot) —
    * movers only are rewritten, untouched cells keep their files. If
    * both thresholds trip, the full rebuild wins. `foldColdBelow` > 0
    * arms the inverse heal at every compaction: cells drained below
    * that fraction of the mean live occupancy fold into their nearest
    * survivors ([[compact]]'s `foldColdBelow`), keeping the quantizer
    * bounded under repeated splits; the footer pre-check keeps the
    * no-cold common case at zero extra read cost. */
  def annIngestStream(stream: DataFrame, indexDir: String,
                      checkpoint: Option[String] = None,
                      nCells: Int = DefaultCells,
                      compactEvery: Int = 16,
                      retrainOnCompact: Boolean = false,
                      retrainSkewAbove: Double = Double.PositiveInfinity,
                      splitSkewAbove: Double = Double.PositiveInfinity,
                      foldColdBelow: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    if (checkpoint.isEmpty && nonEmpty(stream.sparkSession, indexDir))
      throw new IllegalStateException(
        s"ANN index at $indexDir holds state from a previous run; pass " +
          "that run's checkpoint to resume it, or use a fresh indexDir " +
          "(batch ids restart at 0 without a checkpoint and would " +
          "overwrite committed deltas)")
    val writer = stream.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
        if (!batch.isEmpty)
          ingestBatch(batch.toDF(), batchId, indexDir, nCells)
        // the compaction cadence must NOT hide behind the emptiness
        // check: an empty micro-batch (a zero-row upstream file) still
        // consumes a batchId, and a feed whose empty files align with
        // the boundary would otherwise never compact — unbounded delta
        // dirs, and a skew/heal telemetry loop that never runs
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
            indexNonEmpty(batch.sparkSession, indexDir)) {
          val sp = batch.sparkSession
          val skew = lastSkew(sp, indexDir)
          val fullTrip = retrainOnCompact ||
            skew.exists(_ > retrainSkewAbove)
          val splitTrip = !fullTrip && skew.exists(_ > splitSkewAbove)
          compact(sp, indexDir, batchId, retrain = fullTrip,
            splitHot = if (splitTrip) splitSkewAbove else 0.0,
            foldColdBelow = if (fullTrip) 0.0 else foldColdBelow)
        }
        ()
      }
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    writer.start()
  }
}
