package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis & deduplication operators for large-scale training-data
  * pipelines (beyond the reference's surface; the reference has no text ops).
  *
  * Everything is built from codegen'd `functions._` expressions — shingling
  * and hashing happen inside whole-stage codegen with no UDFs, so the ops
  * scale as pure narrow maps; only the candidate-pair joins shuffle, keyed
  * by hash/band values (the standard MinHash-LSH sharding at cluster scale).
  *
  * md5 is used as the cross-engine-deterministic hash everywhere (fixed
  * output for a given string in any engine).
  */
object TextOps {

  /** Distinct 3-gram word shingles; docs shorter than 3 tokens contribute
    * their whole text as one shingle.
    *
    * IMPORTANT: evaluate over a pre-split token-array column (see
    * [[withShingles]]), never inline over `split(text, ' ')` — the lambda
    * would re-split the full text once per sequence element, turning a
    * linear shingle pass into O(tokens²) string work (measured 5× on the
    * sf0.1 documents table). */
  def shinglesOf(toks: String): Column = expr(
    s"""CASE WHEN size($toks) >= 3
       |  THEN array_distinct(transform(
       |    sequence(1, size($toks) - 2),
       |    i -> concat_ws(' ', slice($toks, i, 3))))
       |  ELSE array(concat_ws(' ', $toks))
       |END""".stripMargin)

  /** Respread a DataFrame whose scan yields fewer partitions than cores —
    * a small file count (one split) would serialize the downstream work on
    * one core. On big inputs (splits ≥ cores) this is a no-op: no shuffle
    * is ever added at 100 TB, where the file count already exceeds the
    * cluster. Whether to respread is the CALLER's call, by downstream
    * weight: the pair-generation pipelines (jaccard, LSH banding) win big
    * from a parallel explode+partial-agg map side (measured 3.98 s vs
    * ~4.8 s for q_ngram_jaccard at bench scale), while a plain narrow
    * signature map (q_minhash) loses more to the extra shuffle than it
    * gains (0.20 s vs 0.36 s) — so heaviness can't be inferred from input
    * bytes alone. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

  /** (doc_id, sh: array<string>) with the token split materialized in its
    * own projection — Catalyst keeps the multi-referenced, non-cheap
    * `split` from being inlined back into the shingle lambda.
    * `respread = true` for explode/pair-heavy consumers (see [[spread]]). */
  def withShingles(docs: DataFrame, respread: Boolean = true): DataFrame =
    (if (respread) spread(docs) else docs)
      // a NULL text has no shingles: without this, every null-text doc
      // got the SAME constant signature (shingle of concat_ws over
      // null = '') and the LSH bucket of all of them exploded into
      // n² spurious near-dup pairs (fuzz gate, nulls mode)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), shinglesOf("toks").as("sh"))

  /** MinHash signature: for hash function h, min over shingles of
    * md5("h|" + shingle) — k independent permutation approximations.
    * One narrow pass; respread only when a heavy consumer (LSH banding)
    * follows. */
  def minhash(docs: DataFrame, numHashes: Int = 8,
              respread: Boolean = false): DataFrame = {
    val sigCols = (0 until numHashes).map { h =>
      expr(s"array_min(transform(sh, s -> md5('$h|' || s)))").as(s"m_$h")
    }
    withShingles(docs, respread).select(col("doc_id") +: sigCols: _*)
  }

  /** Ordered (a < b) unique pairs from each group of a keyed id stream:
    * ONE groupBy-collect on the key — the id source (minhash signatures,
    * exploded shingles…) is scanned once, where a self-join would compute
    * it twice and shuffle both sides.
    *
    * `maxGroup` caps the per-key GROUP SIZE: a key held by g ids emits
    * ~g²/2 pairs, so one hot key (a stopword shingle in 10⁵ docs) would
    * otherwise quadratically dominate the job. Groups over the cap emit
    * NOTHING — the check runs after the (linear, spill-backed) id-list
    * aggregation and before any pair is generated, so the quadratic
    * emission is what's bounded, in the same single scan. */
  private def groupedPairs(keyed: DataFrame, keyCols: Seq[String],
                           idCol: String,
                           maxGroup: Option[Int] = None): DataFrame = {
    // explicit-width bucket shuffle: the stage reading this exchange
    // carries the in-group pair fan-out, which AQE coalescing would
    // otherwise serialize (the q_fuzzy_join finding, r16) — see
    // Spread.fanoutExchange
    graft.ops.Spread.fanoutExchange(keyed, keyCols.map(col))
      .groupBy(keyCols.map(col): _*)
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1 &&
        maxGroup.map(c => size(col("ids")) <= c).getOrElse(lit(true)))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
  }

  /** LSH banding: group the k minhashes into bands of `rowsPerBand`, hash
    * each band, and emit candidate pairs sharing any band bucket. One
    * shuffle keyed on (band_id, band_hash) — the distributed near-dup
    * pattern that replaces the O(n²) scan at scale. */
  /** (doc_id, band_id, band_hash) band table from a minhash signature —
    * the LSH index rows. Shared by [[lshPairs]] (in-corpus candidate
    * pairs) and [[incrementalDedup]] (new-batch vs prior-index probe). */
  def minhashBands(sig: DataFrame, numHashes: Int = 8,
                   rowsPerBand: Int = 4): DataFrame = {
    val bands = numHashes / rowsPerBand
    val bandCols = (0 until bands).map { b =>
      val ms = (0 until rowsPerBand).map(r => s"m_${b * rowsPerBand + r}")
      struct(lit(b).as("band_id"),
        md5(concat(ms.map(col): _*).cast("binary")).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
  }

  def lshPairs(sig: DataFrame, numHashes: Int = 8,
               rowsPerBand: Int = 4): DataFrame =
    groupedPairs(minhashBands(sig, numHashes, rowsPerBand),
      Seq("band_id", "band_hash"), "doc_id").distinct()

  /** Exact n-gram Jaccard similarity for candidate pairs above `threshold`:
    * explode distinct shingles, group by shingle, emit in-group ordered
    * pairs, count intersections, compute |A∩B| / (|A|+|B|−|A∩B|).
    *
    * Skew guard: a stopword shingle present in `df` documents would emit
    * ~df²/2 pairs from one task — the classic scale-killer of the
    * groupBy-shingle formulation on natural text. Shingles with document
    * frequency > `dfCap` generate NO pairs (shingles are distinct per doc,
    * so a shingle's group size IS its df — the cap is enforced inside the
    * single pairing scan, before any pair is emitted; see
    * [[groupedPairs]]). Near-dup recall cost is negligible: a shingle
    * shared by >dfCap docs carries no dedup signal. |A|/|B| stay the FULL
    * shingle-set sizes (narrow array-length map), so capping only ever
    * lowers a pair's jaccard — it can never promote a non-duplicate.
    *
    * The O(docs) size-table joins use the size-GATED broadcast hint
    * ([[graft.ops.PlanHints]]): broadcast while the scan estimate says it
    * fits, id-keyed shuffle join beyond. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   dfCap: Int = 1000): DataFrame = {
    val shingled = withShingles(docs)
    val sh = shingled.select(col("doc_id"), explode(col("sh")).as("s"))
    // |A| is just the shingle-array length — a narrow map over documents,
    // not a second explode+groupBy pass
    val sizes = shingled.select(col("doc_id"),
      size(col("sh")).cast("long").as("sz"))
    val inter = groupedPairs(sh, Seq("s"), "doc_id", maxGroup = Some(dfCap))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // size-gated hint (see PlanHints): O(docs) table, broadcast only while
    // the scan's size estimate says it fits
    val szb = graft.ops.PlanHints.gatedBroadcast(sizes)
    inter
      .join(szb.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(szb.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  /** SimHash near-dup candidate pairs over the standard 64-bit fingerprint,
    * banded as 4×16 bits: by pigeonhole, any pair within hamming distance
    * ≤ 3 (< number of bands) shares at least one band EXACTLY, so banding
    * loses no recall at maxHamming ≤ 3; the exact hamming distance (xor +
    * bit_count, codegen'd integer ops) then confirms each candidate. Same
    * shape as MinHash-LSH: one groupBy keyed on (band, value) moves ids
    * only; fingerprints re-attach afterwards.
    *
    * Scale guards: 16-bit bands give 65,536 values per band (vs the 256 of
    * a naive 8-bit banding, whose ≤512 corpus-wide buckets go quadratic on
    * any large corpus), and `maxBucket` caps the per-bucket group size
    * inside the single pairing scan (see [[groupedPairs]]) — a degenerate
    * fingerprint value shared by >maxBucket docs emits no pairs, the same
    * df-cap policy as [[jaccardPairs]]. */
  def simhashPairs(docs: DataFrame, bits: Int = 64, maxHamming: Int = 3,
                   bandBits: Int = 16, maxBucket: Int = 1000): DataFrame =
    hashBandPairs(simhash(docs, bits), "simhash", bits, maxHamming,
      bandBits, maxBucket)

  /** Banded hamming-neighbor pairs over ANY precomputed ≤64-bit
    * fingerprint column (SimHash, image aHash, …): split the hash into
    * `bits/bandBits` bands, bucket-join per band (capped — one
    * degenerate bucket must not emit ~n² candidates), confirm with the
    * exact xor/bit_count distance. The pigeonhole guarantee holds when
    * `maxHamming < nBands`: two hashes within the distance agree on at
    * least one full band. Shuffles ids+bands only, never payloads. */
  def hashBandPairs(sig: DataFrame, hashCol: String, bits: Int = 64,
                    maxHamming: Int = 3, bandBits: Int = 16,
                    maxBucket: Int = 1000): DataFrame = {
    require(bits % bandBits == 0, "bits must divide into equal bands")
    val nBands = bits / bandBits
    val mask = (1L << bandBits) - 1
    // shiftright is arithmetic, but the & mask keeps only the low bandBits
    // bits, which shift semantics can't affect for band offsets < 64
    val bandStructs = (0 until nBands).map { k =>
      struct(lit(k).as("band"),
        expr(s"shiftright(`$hashCol`, ${k * bandBits}) & $mask").as("bv"))
    }
    val bands = sig.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bv"))
    val cand = groupedPairs(bands, Seq("band", "bv"), "doc_id",
      maxGroup = Some(maxBucket)).distinct()
    val sa = sig.select(col("doc_id").as("doc_a"), col(hashCol).as("ha"))
    val sb = sig.select(col("doc_id").as("doc_b"), col(hashCol).as("hb"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("hamming", bit_count(expr("ha ^ hb")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Transitive duplicate clustering over candidate pairs: bounded-round
    * min-label propagation (each round: label(d) ← min(label(d),
    * min over neighbors' labels); `rounds` ≥ graph diameter yields exact
    * connected components). Near-dup clusters are cliques or near-cliques
    * (every member paired with most others), so diameter is tiny and the
    * default 3 rounds is exact in practice while keeping the computation
    * a FIXED chain of id-keyed join+groupBy stages — deterministic,
    * SQL-mirrorable, and free of driver-side iteration-to-convergence
    * checks (each would be a blocking action at 100 TB; fixed unrolling
    * keeps the whole thing one lazy plan).
    *
    * Keep `rounds` SMALL: each round references the previous labels twice
    * (union + join), so the unrolled plan TREE doubles per round — ~6 is
    * the practical ceiling before analysis time bites. Components of
    * larger diameter (not a near-dup shape) call for a checkpointed
    * iterative CC instead.
    *
    * Returns (doc_id, cluster) for every doc appearing in `pairs`, where
    * `cluster` is the component's minimum doc_id — the keep-id under the
    * reference-style keep-first policy. */
  def dedupClusters(pairs: DataFrame, rounds: Int = 3): DataFrame = {
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.union(
      pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val init = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    val fin = (1 to rounds).foldLeft(init) { case (labels, _) =>
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"), col("label"))
      labels.select("doc_id", "label").union(viaNeighbor)
        .groupBy("doc_id").agg(min("label").as("label"))
    }
    fin.select(col("doc_id"), col("label").as("cluster"))
  }

  /** Incremental cross-snapshot dedup — the production ingestion step: a
    * NEW batch is screened against the PRIOR corpus before admission,
    * via (1) exact content hash and (2) MinHash band overlap (near-dup).
    * Emits every new doc with (dup_exact, dup_near, kept) so admission is
    * auditable. In production the prior side is the persisted LSH index /
    * hash set of the existing corpus (write [[minhashBands]] output once,
    * reuse every batch), not a rescan; both joins are key-co-partitioned
    * id/hash joins — batch-linear work, no pair explosion, no corpus
    * text on the wire. */
  def incrementalDedup(newDocs: DataFrame, prior: DataFrame): DataFrame = {
    val ph = prior.select(md5(col("text").cast("binary")).as("h")).distinct()
      .withColumn("pe", lit(true))
    val pb = minhashBands(minhash(prior))
      .select(col("band_id"), col("band_hash")).distinct()
    val nearIds = minhashBands(minhash(newDocs))
      .join(pb, Seq("band_id", "band_hash"))
      .select("doc_id").distinct()
      .withColumn("dup_near", lit(true))
    newDocs.select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"))
      .join(ph, Seq("h"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pe"), lit(false)).as("dup_exact"),
        coalesce(col("dup_near"), lit(false)).as("dup_near"))
      .withColumn("kept", !col("dup_exact") && !col("dup_near"))
  }

  /** Duplicate-cluster representative selection: keep the BEST-quality doc
    * per duplicate cluster instead of an arbitrary one (what production
    * dedup actually ships — CCNet/RefinedWeb keep the highest-quality or
    * longest member). Singletons (docs in no pair) form their own cluster
    * and are trivially kept.
    *
    * Tie-break is deterministic and engine-exact: max score, then MIN
    * doc_id, expressed as a lexicographic `max(struct(score, -doc_id))` so
    * the reduction is a map-side-combined agg — never a `max_by` (whose
    * tie choice is undefined) and never a per-cluster sort.
    *
    * Scale shape: cluster labels ride [[dedupClusters]] (ids only); the
    * docs→labels join is doc_id-co-partitioned; the best-per-cluster agg
    * shuffles (cluster, score, id) triples with partial aggregation, ≤ one
    * row per cluster out; the keep-decision join is cluster-keyed. Corpus
    * text never travels — callers re-attach by doc_id. */
  def dedupKeepBest(docs: DataFrame, pairs: DataFrame,
                    score: Column, rounds: Int = 3): DataFrame = {
    val labels = dedupClusters(pairs, rounds)
    // double, not long: a [0,1]-scaled quality score cast to long
    // truncates every value to 0 and the "best" keeper silently
    // degenerates to min-doc_id (struct max orders doubles fine)
    val scored = docs.select(col("doc_id"), score.cast("double").as("score"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val best = scored.groupBy("cluster")
      .agg(max(struct(col("score").as("s"),
        (-col("doc_id")).as("nid"))).as("b"))
    scored.join(best, "cluster")
      .select(col("doc_id"), col("cluster"),
        (col("score") === col("b.s") &&
          col("doc_id") === -col("b.nid")).as("kept"))
  }

  /** Exact connected components for ARBITRARY-diameter duplicate graphs:
    * iterated hook + pointer-jump (Shiloach–Vishkin style; the
    * MapReduce-CC family of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) with per-round `localCheckpoint`
    * lineage truncation and a driver-side convergence check. This is the
    * general-case companion to [[dedupClusters]]'s fixed unrolled chain:
    * the unrolled plan doubles per round so it must stay shallow, while
    * this variant pays two small blocking actions per round (over the
    * O(docs) label table — ids only, never corpus bytes) and handles ANY
    * component shape exactly.
    *
    * Each round does two label refinements:
    *  - HOOK: label(d) ← min(label(d), min over neighbors' labels) — the
    *    plain propagation step;
    *  - JUMP: label(d) ← label(label(d)) — pointer doubling, which
    *    HALVES the remaining pointer-chain depth.
    * Together they converge in O(log diameter) rounds, not O(diameter):
    * a million-long duplicate chain closes in ~20 rounds where plain
    * propagation would need a million (and would silently return split
    * clusters at any practical round budget — property-tested against
    * union-find on long chains).
    *
    * The candidate-pair input is materialized ONCE up front (it is
    * usually an expensive LSH/banding pipeline); every subsequent round
    * joins ids against ids. `checkpointDir = Some(path)` switches every
    * round's materialization from `localCheckpoint` (executor-local
    * blocks — fast, but an executor loss drops rounds and fails the job)
    * to a RELIABLE `checkpoint` into that directory (HDFS/object store on
    * a real cluster) — the 100-TB path is a flag, not a code edit.
    * Returns (doc_id, cluster), cluster = component minimum, like
    * [[dedupClusters]]. */
  def dedupClustersIterative(pairs: DataFrame,
                             maxRounds: Int = 40,
                             checkpointDir: Option[String] = None)
      : DataFrame =
    dedupClustersIterativeWith(pairs, CcLocalEdges, maxRounds, checkpointDir)

  /** Edge count up to which [[dedupClustersIterative]] labels components
    * on the driver: 1M edges ≈ 16 MB collected, broadcast-relation
    * territory. */
  private val CcLocalEdges = 1000000

  /** [[dedupClustersIterative]] with the small-graph cut's edge cap
    * `localEdges`; 0 always runs the distributed loop. */
  private[graft] def dedupClustersIterativeWith(pairs: DataFrame,
      localEdges: Int, maxRounds: Int = 40,
      checkpointDir: Option[String] = None): DataFrame = {
    // explicit param wins; otherwise the session-level
    // spark.sql.graft.checkpointDir conf decides (reliable vs local)
    def ckpt(df: DataFrame): DataFrame =
      graft.Ckpt.truncate(df, explicit = checkpointDir)
    val sp = pairs.sparkSession
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val raw = fwd.union(
      pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // SMALL-GRAPH CUT (guide §8.4 decide-small): the duplicate graph is
    // usually tiny relative to the corpus (edges = confirmed near-dup
    // pairs), and each distributed round costs 2 checkpoints + a
    // convergence count — a serialized job stream that dominates the
    // drill-family wall. Up to `localEdges` edges the component minimum
    // is computed exactly by a driver union-find instead: same labels,
    // any diameter, one bounded collect of the raw edges and no
    // checkpoint write. Long-id graphs only — any other id type falls
    // through to the loop.
    val longIds = raw.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // at most cap+1 rows come back, and more than cap decides "big":
    // a big graph then evaluates `pairs` once more for its checkpoint,
    // a cost the round loop that follows dwarfs
    val local =
      if (longIds && localEdges > 0) {
        import sp.implicits._
        Some(raw.as[(Long, Long)].limit(localEdges + 1).collect())
          .filter(_.length <= localEdges)
      } else None
    if (local.isDefined) {
      val es = local.get
      // union-find with path halving; cluster = component minimum
      // (identical to the loop's converged min-label)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent.getOrElse(x, x)
          parent(x) = parent.getOrElse(p, p)
          x = parent.getOrElse(x, x)
        }
        x
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.iterator.map(_._1).toArray.distinct
      val mins = scala.collection.mutable.LongMap.empty[Long]
      nodes.foreach { id =>
        val r = find(id)
        mins(r) = math.min(mins.getOrElse(r, id), id)
      }
      val out = nodes.map(id => (id, mins(find(id))))
      return sp.createDataFrame(
        sp.sparkContext.parallelize(
          out.toIndexedSeq.map(t => org.apache.spark.sql.Row(t._1, t._2)),
          math.max(1, out.length / 500000)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster",
            org.apache.spark.sql.types.LongType))))
    }
    // distributed path only: the loop re-joins the edges every round
    val edges = ckpt(raw)
    var labels = ckpt(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")))
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // HOOK: fold in each node's neighbors' labels
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"), col("label"))
      val hooked = labels.union(viaNeighbor)
        .groupBy("doc_id").agg(min("label").as("label"))
      // JUMP: label(label(d)) — labels are doc ids, so a self-join
      // resolves one extra hop; least() keeps monotonicity. The hooked
      // side is checkpointed FIRST so the self-join's two sides are
      // distinct materialized plans (no ambiguous-attribute self-join)
      val hc = ckpt(hooked)
      val right = hc.select(col("doc_id").as("l2"), col("label").as("ll"))
      val next = ckpt(hc.join(right, hc("label") === right("l2"), "left")
        .select(hc("doc_id").as("doc_id"),
          least(hc("label"), coalesce(right("ll"), hc("label")))
            .as("label"))) // truncates lineage: next round reads rows
      // labels only ever decrease, so convergence == zero strict changes;
      // both sides are checkpointed so this count scans materialized ids
      changed = next.join(labels.withColumnRenamed("label", "prev"), "doc_id")
        .filter(col("label") =!= col("prev")).count()
      // free the superseded rounds' O(docs) blocks NOW — waiting for GC +
      // ContextCleaner would pin ~2 tables per round in executor storage
      hc.unpersist(false)
      labels.unpersist(false)
      labels = next
      round += 1
    }
    edges.unpersist(false)
    labels.select(col("doc_id"), col("label").as("cluster"))
  }

  /** SimHash (Charikar): `bits`-bit fingerprint (default 64, the standard
    * corpus-scale size — 16 bits collides far too often past ~10⁵ docs).
    * Per token, bit j of the md5 is ±1-voted; bit set iff the vote sum is
    * non-negative (2·Σbit_j ≥ n). Explode + groupBy — one shuffle keyed by
    * doc_id with map-side partial agg. Bit extraction is pure integer
    * arithmetic on hex digits so any engine agrees. Bit 63's weight is
    * Long.MinValue; the bit-weight sum stays overflow-free in two's
    * complement because bits 0–62 sum to ≤ Long.MaxValue before the one
    * possibly-negative term is added. */
  def simhash(docs: DataFrame, bits: Int = 64): DataFrame = {
    require(bits <= 64, "fingerprint is packed into one LONG")
    // NO respread here (r16 shipped one; the r17 one-window HEAD-vs-r15
    // A/B read q_simhash 2.52× WORSE with it and the interleaved
    // kill-switch A/B confirmed): the md5-per-token fan-out is exactly
    // the borderline cheap-string-explode case the r16 doctrine says
    // to leave on the single-task partial-agg pipeline — shuffling the
    // full text payload costs more than the fan-out saves. Production
    // inputs arrive multi-split anyway.
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
      .withColumn("h", md5(col("t").cast("binary")))
    val bitCols = (0 until bits).map { j =>
      val di = j / 4 + 1  // 1-based hex digit index
      val shift = 3 - (j % 4)
      val digitVal = s"(instr('0123456789abcdef', substr(h, $di, 1)) - 1)"
      expr(s"CAST(floor($digitVal / ${1 << shift}) % 2 AS LONG)").as(s"b_$j")
    }
    val votes = toks.select(col("doc_id") +: bitCols: _*)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        (0 until bits).map(j => sum(s"b_$j").as(s"s_$j")): _*)
    val sim = (0 until bits).map { j =>
      when(lit(2) * col(s"s_$j") >= col("n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.select(col("doc_id"), sim.as("simhash"))
  }

  /** PII patterns — conservative regexes valid and IDENTICAL under both
    * java.util.regex and RE2 (no backrefs, no lookaround), so the scrub is
    * oracle-checkable cross-engine. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b", "<PHONE>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"))

  /** PII scrubbing (training-data compliance pass): masks emails, phone
    * numbers, and SSN-shaped tokens with typed placeholders and reports
    * per-kind hit counts (counted on the ORIGINAL text). One narrow
    * codegen'd projection — regex masking never shuffles; at 100 TB this
    * runs as a pure map over the corpus. The three patterns are mutually
    * disjoint (3-3-4 phone vs 3-2-4 SSN digit groups), so mask order is
    * immaterial. */
  def scrubPii(docs: DataFrame): DataFrame = {
    val masked = piiPatterns.foldLeft(col("text")) {
      case (c, (_, re, repl)) => regexp_replace(c, re, repl)
    }
    val counts = piiPatterns.map { case (name, re, _) =>
      size(regexp_extract_all(col("text"), lit(re), lit(0)))
        .cast("long").as(s"n_$name")
    }
    docs.select(Seq(col("doc_id")) ++ counts ++ Seq(
      masked.as("clean_text"),
      md5(masked.cast("binary")).as("clean_fp")): _*)
  }

  /** Gopher-style repetition signal (Rae et al. 2021 §A1.1 repetition
    * filters, standard LLM-corpus hygiene): share of the document's token
    * BIGRAMS taken by its single most frequent bigram (non-distinct —
    * repetition is exactly what dedup's `array_distinct` shingles erase).
    * A high share flags boilerplate/looping text. Explode + two-level
    * groupBy with map-side partial agg; shuffles are keyed by
    * (doc_id, bigram) then doc_id — no skew beyond a single document's
    * own bigram set. */
  def repetition(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val bigrams = toks.select(col("doc_id"), explode(expr(
      """CASE WHEN size(toks) >= 2
        |  THEN transform(sequence(1, size(toks) - 1),
        |       i -> concat_ws(' ', slice(toks, i, 2)))
        |  ELSE array(concat_ws(' ', toks)) END""".stripMargin)).as("bg"))
    bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        max("c").as("top_bigram_cnt"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_cnt"),
        round(col("top_bigram_cnt").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_share"))
  }

  /** Language lexicons for the n-gram/stopword language-ID heuristic. */
  val lexicon: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "of" -> "en", "and" -> "en", "is" -> "en",
    "el" -> "es", "la" -> "es", "de" -> "es", "y" -> "es", "que" -> "es",
    "le" -> "fr", "les" -> "fr", "et" -> "fr", "un" -> "fr", "une" -> "fr",
    "der" -> "de", "die" -> "de", "das" -> "de", "und" -> "de", "ein" -> "de",
    "shi" -> "zh", "de5" -> "zh", "le5" -> "zh", "he" -> "zh", "zai" -> "zh")

  /** Stopword-vote language ID: explode tokens, broadcast-join the lexicon,
    * argmax votes per doc (tie → lexicographically first language); docs
    * with zero hits → "und". */
  def langId(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lex = lexicon.toDF("t", "lang")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
    val votes = toks.join(broadcast(lex), "t")
      .groupBy("doc_id", "lang").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("votes").desc, col("lang").asc)
    val best = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"), col("votes"))
    docs.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("votes"), lit(0L)).as("votes"))
  }

  /** English stopwords for the quality stopword-ratio signal (Gopher §A1.1
    * uses a must-contain-stopwords rule; the lexicon's EN row serves). */
  val enStopwords: Seq[String] =
    lexicon.collect { case (t, "en") => t }

  /** Row-local quality signals (pure IEEE arithmetic — bit-exact anywhere):
    * token count, char count, mean token length, digit/upper ratios, and
    * the Gopher-style stopword ratio. */
  def quality(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val stopCnt = size(filter(toks,
      t => t.isin(enStopwords.map(lit): _*))).cast("long")
    // ratios over an EMPTY text are undefined → NULL, matching DuckDB's
    // x/0 (ANSI Spark would crash instead; fuzz gate, edge mode).
    // mean_tok_len/stopword_ratio divide by size(split(...)) which is
    // always ≥ 1 (split of '' is ['']).
    val nChars = length(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      nChars.cast("long").as("n_chars"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") /
        size(toks)).as("mean_tok_len"),
      when(nChars > 0,
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
          nChars).as("digit_ratio"),
      when(nChars > 0,
        length(regexp_replace(col("text"), "[^A-Z]", "")).cast("double") /
          nChars).as("upper_ratio"),
      round(stopCnt.cast("double") / size(toks), 6).as("stopword_ratio"))
  }

  /** GPT2-style pre-tokenizer regex, ASCII approximation — contractions,
    * letter runs, digit runs, punctuation runs, each with an optional
    * leading space. RE2-compatible (no lookaround/backrefs) so the count
    * is oracle-checkable cross-engine. */
  val bpeTokenRegex: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** URL extraction + per-domain counts — corpus provenance profiling
    * (which domains dominate a crawl slice). RE2-compatible regex so the
    * count is oracle-checkable; extraction is a narrow codegen map, the
    * only shuffle is the tiny groupBy(domain). */
  val urlRegex: String = "https?://[A-Za-z0-9.-]+"

  def urlDomains(docs: DataFrame): DataFrame =
    docs.select(explode(
        expr(s"regexp_extract_all(text, '$urlRegex', 0)")).as("url"))
      .select(regexp_replace(col("url"), "^https?://", "").as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("n_urls"))

  /** URL canonicalization — the crawl-dedup normalizer (a page is
    * fetched under scheme/host case variants, default ports, tracking
    * params, fragments; dedup must key on ONE spelling). Deterministic
    * RE2-only rewrite chain, bit-identical in any RE2 engine:
    *  1. scheme and authority lowercased (path case preserved),
    *  2. default port stripped (:443 for https, :80 for http),
    *  3. fragment dropped,
    *  4. `utm_*` tracking params dropped (leading, middle, trailing),
    *  5. a dangling '?' and a trailing '/' stripped; empty path → '/'.
    * Pure narrow codegen map — compose it under any keep-first
    * groupBy (e.g. [[BloomDedup]] or an exact min-doc_id group) for
    * canonical-URL dedup. */
  def canonicalUrl(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth0 = lower(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val auth = when(scheme === "https",
        regexp_replace(auth0, ":443$", ""))
      .when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .otherwise(auth0)
    val rest0 = regexp_extract(u,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val noFrag = regexp_replace(rest0, "#.*$", "")
    // anchored at ? or & (kept via $1): the bare "utm_[^&]*&" also
    // matched a utm_ SUBSTRING inside another parameter's name or
    // value ("?q=utm_test&b=1" -> "?q=b=1"), merging distinct URLs
    // into one canonical form. The (...)+ group removes a RUN of
    // consecutive utm params in one pass — with the anchor consumed
    // per-match, the second of "?utm_a=1&utm_b=2" would survive
    // (scanning resumes past the replacement, lookbehind is not
    // portable to RE2 for the oracle)
    val noUtmMid = regexp_replace(noFrag, "([?&])(utm_[^&]*&)+", "$1")
    val noUtmEnd = regexp_replace(noUtmMid, "[?&]utm_[^&]*$", "")
    val noQmark = regexp_replace(noUtmEnd, "\\?$", "")
    val noSlash = regexp_replace(noQmark, "/$", "")
    concat(scheme, lit("://"), auth,
      when(noSlash === "", lit("/")).otherwise(noSlash))
  }

  /** Canonical-URL dedup groups: (canonical, n_docs, keep_doc) with the
    * deterministic min-doc_id keeper — one groupBy on the canonical
    * string, the standard crawl-frontier dedup shape. */
  def urlDedup(docs: DataFrame, urlCol: Column): DataFrame =
    docs.select(col("doc_id"), canonicalUrl(urlCol).as("canonical"))
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc"))

  /** Benchmark-contamination screen (standard LLM-corpus hygiene: drop
    * training documents that contain evaluation-set n-grams). The
    * benchmark shingle set is SMALL by construction (a benchmark's worth
    * of n-grams) — it broadcasts; each doc reports how many distinct
    * benchmark shingles it contains. One narrow shingle pass + a
    * broadcast semi-structure; no shuffle keyed by corpus size. */
  def contamination(docs: DataFrame, benchShingles: Seq[String]): DataFrame = {
    val bench = array(benchShingles.distinct.map(lit): _*)
    withShingles(docs, respread = false)
      .select(col("doc_id"),
        size(array_intersect(col("sh"), bench)).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every k-token gram, slide a window of
    * `w` hashes, keep the DISTINCT window minima. Guarantees any shared
    * run of ≥ w+k−1 tokens yields at least one shared fingerprint while
    * storing only ~2/(w+1) of the gram hashes — the classic local
    * fingerprinting scheme for partial-overlap/plagiarism-style dedup,
    * complementing the global-similarity family (MinHash/SimHash).
    *
    * Everything is ROW-LOCAL (`transform` over the token array, one
    * explode at the end — zero shuffles, stays in codegen) and
    * md5-derived, so every fingerprint is engine-exact. Docs shorter
    * than k tokens hash whole; gram lists shorter than w winnow as one
    * window. */
  def winnow(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, s"k and w must be positive, got k=$k w=$w")
    def h(s: Column): Column =
      conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long")
    val toksC = filter(split(lower(col("text")), " "), t => t =!= "")
    // a token-less (empty/whitespace/null) doc has nothing to
    // fingerprint — emitting h('') would bucket every empty doc into
    // one giant spurious dup group (fuzz gate; exact dedup already
    // owns identical-empty documents)
    val base = docs.select(col("doc_id"), toksC.as("toks"))
      .filter(size(col("toks")) > 0)
    val grams = when(size(col("toks")) >= k,
        transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => h(array_join(slice(col("toks"), i, lit(k)), " "))))
      .otherwise(array(h(array_join(col("toks"), " "))))
    val withG = base.select(col("doc_id"), grams.as("g"))
    val fps = when(size(col("g")) >= w,
        array_distinct(transform(sequence(lit(1), size(col("g")) - (w - 1)),
          j => array_min(slice(col("g"), j, lit(w))))))
      .otherwise(array(array_min(col("g"))))
    withG.select(col("doc_id"), explode(fps).as("fp"))
  }

  /** Code-vs-prose detection signals — the router in mixed crawl+code
    * pipelines (StarCoder-style corpora keep code on a separate quality
    * track; a prose filter would junk it). Row-local integer counts over
    * characters/tokens: brace+bracket+semicolon density, operator-token
    * share ('=', '==', '->', '::'), camelCase/snake_case identifier
    * share, and an indent proxy (docs here are single-line, so leading
    * whitespace is out of scope). All shares ×1e6 as integers, so the
    * engine cut is exact; `is_code_like` is the standard 2-of-3 vote.
    * Pure narrow codegen map. */
  def codeSignals(docs: DataFrame): DataFrame = {
    val toksC = filter(split(col("text"), " "), t => t =!= "")
    def share(n: Column, d: Column): Column =
      when(d > 0, floor(n * lit(1000000L) / d).cast("long"))
        .otherwise(lit(0L))
    val punct = length(regexp_replace(col("text"), "[^{}\\[\\]();]", ""))
      .cast("long")
    val nChars = length(col("text")).cast("long")
    val opTok = size(filter(col("toks"), t =>
      t.isin("=", "==", "!=", "->", "=>", "::", "&&", "||", "+=", "-=")))
      .cast("long")
    val identTok = size(filter(col("toks"), t =>
      t.rlike("^[a-z]+([A-Z][a-z0-9]*)+$") ||
        t.rlike("^[a-z0-9]+(_[a-z0-9]+)+$"))).cast("long")
    val nToks = size(col("toks")).cast("long")
    docs.select(col("doc_id"), toksC.as("toks"), col("text"))
      .select(col("doc_id"),
        share(punct, nChars).as("punct_ppm"),
        share(opTok, nToks).as("op_ppm"),
        share(identTok, nToks).as("ident_ppm"))
      .withColumn("is_code_like",
        (when(col("punct_ppm") >= 20000, 1).otherwise(0) +
          when(col("op_ppm") >= 50000, 1).otherwise(0) +
          when(col("ident_ppm") >= 100000, 1).otherwise(0)) >= 2)
  }

  /** C4-style blocklist filter (Raffel et al. 2020 §2.2's "bad words"
    * screen): drop any doc containing a blocklisted token; emit the keep
    * verdict plus WHICH listed words hit and how many tokens matched, so
    * the drop is auditable. The list is broadcast as an array literal and
    * the check is a row-local `array_intersect` over the doc's distinct
    * lowercased tokens — pure narrow codegen map, no join, no shuffle;
    * the list (10³-ish words) rides the closure exactly like the
    * contamination screen's shingle set. */
  def blocklistFilter(docs: DataFrame, words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "blocklist must be non-empty")
    val listLit = array(words.map(w => lit(w.toLowerCase)): _*)
    // a null text holds no blockable tokens — CONCRETE kept=true/0
    // hits, never a NULL verdict (fuzz gate, nulls mode)
    val toksC = coalesce(
      filter(split(lower(col("text")), " "), t => t =!= ""),
      array().cast("array<string>"))
    docs.select(col("doc_id"), toksC.as("toks"))
      .withColumn("hits",
        array_sort(array_intersect(array_distinct(col("toks")), listLit)))
      .select(col("doc_id"),
        (size(col("hits")) === 0).as("kept"),
        col("hits"),
        size(filter(col("toks"), t => array_contains(listLit, t)))
          .cast("long").as("n_hit_tokens"))
  }

  /** Per-source corpus data card — the datasheet rollup every corpus
    * release ships (Dolma/RefinedWeb-style): doc and token counts, doc
    * length distribution, language mix (dominant language + its share,
    * distinct languages), mean raw chars. One pass of row-local signals
    * into TWO bounded aggregations (per-(source,lang) counts, then
    * per-source rollup) joined on the tiny source key — nothing scales
    * with corpus size except the single scan. Dominant-language ties
    * break lexicographically via max(struct(cnt, lang)) — engine-exact. */
  def dataCard(docs: DataFrame): DataFrame = {
    val toksC = filter(split(col("text"), " "), t => t =!= "")
    val base = docs.select(col("source"), col("lang"),
      size(toksC).cast("long").as("n_toks"), col("n_chars"))
    val bySrc = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_toks").as("n_tokens"),
      min("n_toks").as("min_doc_tokens"),
      max("n_toks").as("max_doc_tokens"),
      round(avg("n_toks"), 6).as("mean_doc_tokens"),
      round(avg("n_chars"), 6).as("mean_doc_chars"))
    val byLang = base.groupBy("source", "lang")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("source").agg(
        max(struct(col("cnt"), col("lang"))).as("b"),
        countDistinct("lang").as("n_langs"))
      .select(col("source"), col("b.lang").as("top_lang"),
        col("b.cnt").as("top_lang_docs"), col("n_langs"))
    bySrc.join(byLang, "source")
      .withColumn("top_lang_share",
        round(col("top_lang_docs").cast("double") / col("n_docs"), 6))
  }

  /** Leakage-safe grouped train/val/test split: the split is a
    * deterministic hash of the GROUP (domain / source / url-host), not the
    * document, so near-duplicates and same-site pages can never straddle
    * splits — the standard guard against train→test contamination that a
    * row-wise random split cannot give. Pure narrow codegen map (md5 of
    * the group value, positional bucket in [0,10000), CASE chain over
    * cumulative weights); no shuffle, no state, reproducible at any
    * parallelism. */
  def groupedSplit(docs: DataFrame, group: Column,
                   weights: Seq[Double] = Seq(0.8, 0.1, 0.1),
                   names: Seq[String] =
                     Seq("train", "val", "test")): DataFrame = {
    require(weights.length == names.length && names.nonEmpty &&
      weights.forall(_ > 0), "weights/names must align and be positive")
    val denom = 10000L
    val tot = weights.sum
    val cuts = weights.scanLeft(0.0)(_ + _).tail
      .map(w => math.round(w / tot * denom))
    val bucket = pmod(
      conv(substring(md5(group.cast("string").cast("binary")), 1, 8),
        16, 10).cast("long"), lit(denom))
    val first = when(bucket < cuts.head, lit(names.head))
    val splitCol = cuts.init.zip(names).tail
      .foldLeft(first) { case (acc, (c, nm)) => acc.when(bucket < c, nm) }
      .otherwise(names.last)
    docs.select(col("doc_id"), group.as("grp"), bucket.as("bucket"),
      splitCol.as("split"))
  }

  /** Full Gopher repetition suite (Rae et al. 2021, arXiv:2112.11446,
    * Table A1): per doc, the fraction of characters contained in the most
    * frequent {2,3,4}-gram (all its occurrences), and the fraction of
    * characters covered by duplicated {5..10}-grams (each character counted
    * once — positional union, not occurrence sum). These are the strongest
    * repetition filters in the Gopher/ MassiveText recipe; [[repetition]]
    * keeps the original single top-bigram share for the cheap screen.
    *
    * Tie-break for "most frequent" is engine-exact: lexicographic
    * max(count, gram_chars, gram_hash). All numerators/denominators are
    * integer char counts; fractions are rounded at 6 digits.
    *
    * Scale shape: ONE corpus-linear gram stream (9 window widths inlined
    * row-locally before a single explode), then (doc,n,h)-keyed partial
    * aggs; positions are collected only for the dup-coverage widths and
    * only for grams seen ≥2× in that doc, so per-doc state is bounded by
    * the doc's own length. Final assembly is one doc-keyed join; the
    * coverage union is a row-local lambda. */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    val topNs = 2 to 4
    val dupNs = 5 to 10
    val toksC = filter(split(lower(col("text")), " "), t => t =!= "")
    val base = docs.select(col("doc_id"), toksC.as("toks"))
      .withColumn("tot_chars",
        coalesce(aggregate(col("toks"), lit(0L),
          (a, t) => a + length(t)), lit(0L)))
    val gramCols = (topNs ++ dupNs).map { n =>
      when(size(col("toks")) >= n,
        transform(sequence(lit(1), size(col("toks")) - (n - 1)), i => {
          val sl = slice(col("toks"), i, lit(n))
          struct(lit(n).as("n"), i.as("i"),
            md5(array_join(sl, " ").cast("binary")).as("h"),
            // token chars only — same unit as tot_chars (no separators)
            aggregate(sl, lit(0L), (a, t) => a + length(t)).as("gc"))
        })).otherwise(array().cast(
          "array<struct<n:int,i:int,h:string,gc:bigint>>"))
    }
    val w = base.select(col("doc_id"),
        explode(flatten(array(gramCols: _*))).as("x"))
      .select(col("doc_id"), col("x.n").as("n"), col("x.i").as("i"),
        col("x.h").as("h"), col("x.gc").as("gc"))
    // counts per (doc, n, gram); positions kept only where needed.
    // The top-gram and dup-coverage reductions ride ONE linear agg chain
    // (a forked lineage would recompute the gram explode per branch).
    val counted = w.groupBy("doc_id", "n", "h")
      .agg(count(lit(1)).as("cnt"), max("gc").as("gc"),
        sort_array(collect_list(when(col("n") >= dupNs.head, col("i"))))
          .as("pos"))
    val perN = counted.groupBy("doc_id", "n")
      .agg(max(when(col("n") <= topNs.last,
          struct(col("cnt"), col("gc"), col("h")))).as("b"),
        sort_array(flatten(collect_list(
          when(col("cnt") >= 2, col("pos"))))).as("starts"))
    val perDoc = perN.groupBy("doc_id")
      .agg(map_from_entries(collect_list(when(col("n") <= topNs.last,
          struct(col("n"), (col("b.cnt") * col("b.gc")).as("mass")))))
          .as("top_mass"),
        map_from_entries(collect_list(when(col("n") >= dupNs.head,
          struct(col("n"), col("starts"))))).as("cov"))
    val joined = base.join(perDoc, Seq("doc_id"), "left")
    val outCols =
      topNs.map { n =>
        when(col("tot_chars") > 0,
          round(coalesce(element_at(col("top_mass"), lit(n)), lit(0L))
            .cast("double") / col("tot_chars"), 6))
          .otherwise(lit(0.0)).as(s"top_${n}gram_frac")
      } ++ dupNs.map { n =>
        val st = coalesce(element_at(col("cov"), lit(n)),
          array().cast("array<int>"))
        val covered = filter(seq1(size(col("toks"))),
          j => exists(st, i => i <= j && j < i + n))
        val chars = coalesce(aggregate(covered, lit(0L),
          (a, j) => a + length(element_at(col("toks"), j))), lit(0L))
        when(col("tot_chars") > 0,
          round(chars.cast("double") / col("tot_chars"), 6))
          .otherwise(lit(0.0)).as(s"dup_${n}gram_frac")
      }
    joined.select(col("doc_id") +: outCols: _*)
  }

  /** Exact-substring duplicated-span scrub (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): any
    * k-token span appearing in MORE THAN ONE document is removed from every
    * doc except the one with the smallest doc_id (keep-first), and the doc
    * is rebuilt from its surviving tokens. The reference algorithm builds a
    * suffix array; the distributed re-expression hashes every k-token
    * window instead — equivalent detection for spans ≥ k (maximal longer
    * duplicates are covered by their constituent windows).
    *
    * Scale shape: the window stream is corpus-linear (same cost class as
    * shingling); per-hash (min_doc, max_doc) is a map-side-combined agg —
    * ≤ one row per distinct window, no doc lists; the dup-window join back
    * is hash-co-partitioned; per-doc coverage state is bounded by the
    * doc's own token count (sorted start list), and the rebuild is a
    * row-local lambda. Nothing quadratic, no driver state.
    *
    * Emits (doc_id, n_tokens, n_removed, scrubbed_text). */
  def scrubDupSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = tokBase(docs)
    val w = spanWindows(base, k)
    val dup = w.groupBy("h")
      .agg(min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .filter(col("min_doc") =!= col("max_doc"))
      .select("h", "min_doc")
    val starts = w.join(dup, "h")
      .filter(col("doc_id") =!= col("min_doc"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    rebuildScrubbed(base, starts, k)
  }

  private def tokBase(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      filter(split(col("text"), " "), t => t =!= "").as("toks"))

  /** `sequence(1, n)` that is EMPTY for n < 1: Spark's sequence(1, 0)
    * counts DOWN to [1, 0], so an empty token array would otherwise
    * feed invalid indices into element_at (ANSI crash on every empty/
    * whitespace-only document — found by the fuzz gate's edge mode). */
  private def seq1(n: Column): Column =
    when(n >= 1, sequence(lit(1), n)).otherwise(array().cast("array<int>"))

  /** (doc_id, i, h): md5 of every k-token window, position-stamped. */
  private def spanWindows(base: DataFrame, k: Int): DataFrame =
    base.filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => struct(i.as("i"),
            md5(array_join(slice(col("toks"), i, lit(k)), " ")
              .cast("binary")).as("h")))).as("x"))
      .select(col("doc_id"), col("x.i").as("i"), col("x.h").as("h"))

  /** Rebuild each doc dropping tokens covered by any [i, i+k) interval in
    * `starts` (doc_id → sorted start list); row-local coverage union. */
  private def rebuildScrubbed(base: DataFrame, starts: DataFrame,
                              k: Int): DataFrame =
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("st", coalesce(col("starts"),
        array().cast("array<int>")))
      .withColumn("kept", filter(seq1(size(col("toks"))),
        j => !exists(col("st"), i => i <= j && j < i + k)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("n_removed"),
        array_join(transform(col("kept"),
          j => element_at(col("toks"), j)), " ").as("scrubbed_text"))

  /** Within-doc self-repetition scrub — the intra-document counterpart
    * of [[scrubDupSpans]]: every k-token window that repeats INSIDE a
    * doc keeps its FIRST occurrence and later ones are cut (the
    * generation-loop / boilerplate-chorus cleanup that doc-level and
    * cross-doc dedup both miss). Entirely doc-keyed: the one exchange
    * groups span hashes by (doc, hash), so partitioning by doc_id makes
    * it co-located at any corpus size; the rebuild is row-local. */
  def scrubSelfRepeats(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = tokBase(docs)
    val starts = spanWindows(base, k)
      .groupBy("doc_id", "h")
      .agg(sort_array(collect_list(col("i"))).as("occ"))
      .filter(size(col("occ")) > 1)
      .select(col("doc_id"),
        explode(expr("slice(occ, 2, size(occ) - 1)")).as("i"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    rebuildScrubbed(base, starts, k)
  }

  /** Benchmark decontamination SCRUB — the removal counterpart of the
    * [[contamination]] flagger: every k-token span of a training doc that
    * appears verbatim in the benchmark/eval set is cut out and the doc
    * rebuilt (drop-the-span, keep-the-doc — stricter than flag-and-drop
    * when contamination is a quote inside an otherwise-good doc). The
    * bench window-hash set is tiny (eval suites are MBs) and BROADCAST;
    * the corpus side is one narrow window stream + a doc-keyed rebuild —
    * no corpus-keyed join against anything corpus-sized. */
  def decontaminate(docs: DataFrame, bench: DataFrame,
                    k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = tokBase(docs)
    val benchH = spanWindows(tokBase(bench), k).select("h").distinct()
    val starts = spanWindows(base, k)
      .join(broadcast(benchH), "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    rebuildScrubbed(base, starts, k)
  }

  /** Partial-overlap candidate pairs from [[winnow]] fingerprints: docs
    * sharing ≥ `minShared` winnow fingerprints, with the shared count as
    * the overlap evidence. Same skew discipline as the shingle path — a
    * fingerprint present in more than `dfCap` docs is dropped BEFORE
    * pair expansion (boilerplate fingerprints would otherwise emit
    * ~df²/2 pairs), so the shuffle carries ids only and the groupBy is
    * the one corpus-keyed stage. */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 4,
                  minShared: Int = 2, dfCap: Int = 1000): DataFrame = {
    val fp = winnow(docs, k, w)
    val pairs = fp.groupBy("fp")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= dfCap)
      .select(explode(expr(
        """flatten(transform(ids, x ->
          |  filter(transform(ids, y -> struct(x AS a, y AS b)),
          |         p -> p.a < p.b)))""".stripMargin)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    pairs.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Document fingerprints: content md5 + whitespace-normalized md5. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("fp"),
      md5(trim(regexp_replace(lower(col("text")), " +", " "))
        .cast("binary")).as("fp_norm"))

  /** The shipped corpus FILTER: Gopher-style keep/drop decision per doc
    * with the FIRST failing rule as the reason (priority order mirrors
    * the rule list) — the decision stage that composes the row-local
    * quality signals into an actual corpus cut. Pure narrow map. */
  def corpusFilter(docs: DataFrame,
                   minTokens: Long = 30,
                   maxMeanTokLen: Double = 5.0,
                   minStopwordRatio: Double = 0.03): DataFrame = {
    val q = quality(docs)
    val reason = when(col("n_tokens") < minTokens, "too_short")
      .when(col("mean_tok_len") > maxMeanTokLen, "long_tokens")
      .when(col("stopword_ratio") < minStopwordRatio, "low_stopwords")
      .otherwise("ok")
    q.select(col("doc_id"), reason.as("reason"),
      (reason === "ok").cast("int").as("keep"))
  }

  /** Corpus mixture weights: per-source token shares and the resampling
    * weight that moves the mixture to `target` (uniform when None) — the
    * bookkeeping every multi-source training run does before sampling.
    * One groupBy over the corpus; the share/weight window runs over the
    * SOURCE table (bounded by the number of sources, not rows). */
  def mixtureWeights(docs: DataFrame, tokensCol: Column,
                     target: Option[Map[String, Double]] = None): DataFrame = {
    val per = docs.select(col("source"), tokensCol.cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    // bounded per-source table; explicit constant partition key (see
    // ops/Psi.scala) keeps the WindowExec warning count at zero
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val targetShare = target match {
      case Some(m) =>
        m.foldLeft(lit(0.0)) { case (acc, (s, sh)) =>
          when(col("source") === s, sh).otherwise(acc) }
      case None => lit(1.0) / count(lit(1)).over(all)
    }
    per
      .withColumn("token_share",
        round(col("n_tokens") / sum("n_tokens").over(all), 6))
      .withColumn("resample_weight",
        round(targetShare * sum("n_tokens").over(all) / col("n_tokens"), 6))
  }

  /** Token-budget top-mass corpus selection — the final assembly cut
    * ("keep the highest-quality `budget` tokens"). The naive plan is a
    * GLOBAL sort by score + running token sum: a single-partition window
    * at 100 TB, exactly the scale-killer class. This one is two-pass
    * histogram selection instead:
    *  1. bin docs by `floor(score·nBins)` and sum tokens per bin — ONE
    *     map-side-combined groupBy, ≤ `nBins` rows to the driver;
    *  2. the driver walks bins top-down accumulating token mass while it
    *     stays ≤ `budget` (bounded, corpus-independent), and the kept
    *     set is a narrow `bin ≥ threshold` filter with a literal.
    * Budget granularity is one bin's mass (refine: recurse into the
    * boundary bin with the same two passes). Deterministic given a
    * deterministic score, hence oracle-checkable. `score` must be in
    * [0, 1] (clamped into the bin range otherwise). */
  def selectTopMass(docs: DataFrame, score: Column, tokensCol: Column,
                    budget: Long, nBins: Int = 1000): DataFrame = {
    require(nBins > 0 && budget >= 0, s"bad nBins=$nBins budget=$budget")
    // null-PRESERVING clamp (least/greatest skip nulls, which silently
    // promoted a NULL score into the TOP bin — fuzz gate, nulls mode);
    // docs with no score or no token count can't be budgeted: excluded
    val rawBin = floor(score * nBins).cast("int")
    val d = docs.select(col("doc_id"),
      when(rawBin > nBins - 1, nBins - 1).when(rawBin < 0, 0)
        .otherwise(rawBin).as("bin"),
      tokensCol.cast("long").as("n_tokens"))
      .filter(col("bin").isNotNull && col("n_tokens").isNotNull)
    val bins = d.groupBy("bin").agg(sum("n_tokens").as("tk"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(-_._1)
    var cum = 0L
    var minKept = Int.MaxValue
    var i = 0
    while (i < bins.length && cum + bins(i)._2 <= budget) {
      cum += bins(i)._2
      minKept = bins(i)._1
      i += 1
    }
    d.filter(col("bin") >= minKept)
  }

  /** Per-source token-budget selection — [[selectTopMass]] with an
    * independent budget per corpus slice (the "take the best N tokens
    * from EACH source" assembly rule that keeps a dominant source from
    * eating the whole budget). Same two-pass histogram shape: one
    * map-side-combined groupBy on (source, bin) — ≤ sources × nBins rows
    * to the driver — a bounded per-source walk, then ONE narrow filter
    * against the broadcast per-source threshold table. No sort, no
    * window, no per-source scan. */
  def selectTopMassBySource(docs: DataFrame, score: Column,
                            tokensCol: Column, budgetPerSource: Long,
                            nBins: Int = 1000): DataFrame = {
    require(nBins > 0 && budgetPerSource >= 0,
      s"bad nBins=$nBins budget=$budgetPerSource")
    // same null discipline as selectTopMass (null-preserving clamp +
    // unscoreable docs excluded)
    val rawBin = floor(score * nBins).cast("int")
    val d = docs.select(col("doc_id"), col("source"),
      when(rawBin > nBins - 1, nBins - 1).when(rawBin < 0, 0)
        .otherwise(rawBin).as("bin"),
      tokensCol.cast("long").as("n_tokens"))
      .filter(col("bin").isNotNull && col("n_tokens").isNotNull)
    val perSource = d.groupBy("source", "bin").agg(sum("n_tokens").as("tk"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    val minKept = perSource.map { case (src, rows) =>
      val sorted = rows.map(t => (t._2, t._3)).sortBy(-_._1)
      var cum = 0L; var mk = Int.MaxValue; var i = 0
      while (i < sorted.length && cum + sorted(i)._2 <= budgetPerSource) {
        cum += sorted(i)._2; mk = sorted(i)._1; i += 1
      }
      src -> mk
    }.toSeq
    val spark = docs.sparkSession
    import spark.implicits._
    // bounded by construction (distinct sources already fit the driver)
    val th = broadcast(minKept.toDF("source", "mk"))
    d.join(th, "source").filter(col("bin") >= col("mk"))
      .select("doc_id", "source", "bin", "n_tokens")
  }

  /** Temperature-flattened mixture weights (the XLM-R/mT5 multilingual
    * sampling rule): target share ∝ share^α with α ∈ (0,1] — α=1 keeps
    * the natural mixture, α→0 approaches uniform, between the two it
    * upweights low-resource sources without drowning the head. Same
    * bounded-SOURCE-table windows as [[mixtureWeights]]; the corpus is
    * touched by exactly one groupBy. */
  def mixtureTemperature(docs: DataFrame, tokensCol: Column,
                         alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val per = docs.select(col("source"), tokensCol.cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    // bounded per-source table; explicit constant partition key (see
    // ops/Psi.scala) keeps the WindowExec warning count at zero
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    per
      .withColumn("sh", col("n_tokens") / sum("n_tokens").over(all))
      .withColumn("pa", pow(col("sh"), lit(alpha)))
      .withColumn("tgt", col("pa") / sum("pa").over(all))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("sh"), 6).as("token_share"),
        round(col("tgt"), 6).as("target_share"),
        round(col("tgt") / col("sh"), 6).as("resample_weight"))
  }

  /** Unigram log-probability scorer — the perplexity-proxy quality filter
    * of CCNet-style corpus pipelines (score docs by how "language-like"
    * their token distribution is; low average logprob → gibberish /
    * boilerplate). Two passes: corpus unigram counts, then per-doc mean
    * log10 token probability.
    *
    * Scale: `vocabCap` bounds the language model — top-cap tokens by
    * frequency (deterministic count-then-name order), everything else
    * scores at the 1/total floor; the capped vocab is a few MB and
    * broadcast-joins against the token stream, so the scoring pass is
    * one narrow join + one doc-keyed aggregation. `vocabCap = None`
    * keeps the exact full vocabulary (test-scale / oracle parity). */
  def unigramLogprob(docs: DataFrame,
                     vocabCap: Option[Int] = Some(1 << 20)): DataFrame = {
    val tk = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
    val counts = tk.groupBy("t").agg(count(lit(1)).cast("double").as("c"))
    val total = counts.agg(sum("c")).head().getDouble(0)
    val vocab = vocabCap match {
      case Some(cap) =>
        // Bounded distributed top-k: ORDER BY + LIMIT plans as
        // TakeOrderedAndProject (each partition keeps ≤ cap candidates,
        // driver merges bounded queues) — the rows moved are
        // corpus-independent. A row_number() window here would have no
        // partitionBy and sort the ENTIRE distinct-token table (10⁸–10⁹
        // rows web-scale) through one task. Ordering (c desc, t asc)
        // makes the cap cut deterministic.
        counts.orderBy(col("c").desc, col("t").asc).limit(cap)
      case None => counts
    }
    val lp = vocab.select(col("t"), log10(col("c") / total).as("logp"))
    val floorLp = math.log10(1.0 / total)
    tk.join(graft.ops.PlanHints.gatedBroadcast(lp), Seq("t"), "left")
      .select(col("doc_id"), coalesce(col("logp"), lit(floorLp)).as("logp"))
      .groupBy("doc_id")
      .agg(round(avg("logp"), 6).as("avg_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** Sequence packing for LLM training: assign each document to a pack
    * whose cumulative token budget is `budget`, contiguous-fill within a
    * deterministic md5 shard ordering. Docs longer than the budget get a
    * pack of their own (the floor arithmetic does this naturally).
    *
    * Scale design: a GLOBAL running sum would serialize 100 TB through
    * one window partition, so packing runs per md5-derived shard —
    * `numShards` independent windows, each shard a (budget-bounded)
    * stream of documents; pack identity is (shard, local pack). Packs
    * never cross shards, which costs a sliver of tail fill and buys full
    * parallelism — the standard distributed-packing tradeoff.
    * One shuffle total (the shard window sort). */
  def packSequences(docs: DataFrame, tokensCol: Column, budget: Long,
                    numShards: Int = 32): DataFrame = {
    val shard = pmod(conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 6), 16, 10)
      .cast("long"), lit(numShards))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    docs.select(col("doc_id"), tokensCol.cast("long").as("n_tokens"),
        shard.as("shard"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        // explicit floor: '/' is double division and a bare long cast
        // would TRUNCATE in Spark but ROUND in DuckDB-style engines
        floor((col("cum") - col("n_tokens")) / budget).cast("long")
          .as("pack_in_shard"))
  }

  /** Concat-and-chunk block preparation — the OTHER standard LM
    * tokenization layout (the HuggingFace `group_texts` default, GPT-2
    * training): concatenate the shard's token stream doc-after-doc, then
    * cut fixed `blockSize`-token blocks; a block may span a doc boundary
    * (vs [[packSequences]], which never splits a doc). Emits each doc's
    * placement in the block stream: (doc_id, n_tokens, shard, start_tok,
    * first_block, last_block, crosses_boundary).
    *
    * Same scale shape as packing: the running sum is per-md5-shard (N
    * independent windows — a single global window would serialize the
    * corpus through one task), all arithmetic integer-exact. */
  def concatChunk(docs: DataFrame, tokensCol: Column, blockSize: Long,
                  numShards: Int = 32): DataFrame = {
    require(blockSize > 0, s"blockSize must be positive, got $blockSize")
    val shard = pmod(conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 6), 16, 10)
      .cast("long"), lit(numShards))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    docs.select(col("doc_id"), tokensCol.cast("long").as("n_tokens"),
        shard.as("shard"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("start_tok", col("cum") - col("n_tokens"))
      .withColumn("first_block",
        floor(col("start_tok") / blockSize).cast("long"))
      .withColumn("last_block",
        when(col("n_tokens") === 0, col("first_block"))
          .otherwise(floor((col("cum") - 1) / blockSize).cast("long")))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        col("start_tok"), col("first_block"), col("last_block"),
        (col("last_block") > col("first_block")).as("crosses_boundary"))
  }

  /** [[packSequences]] with a sequence-length ceiling: a document longer
    * than `maxSeqLen` tokens is SPLIT into ceil(n/maxSeqLen) contiguous
    * chunks of ≤ maxSeqLen tokens BEFORE the shard fill — real LLM
    * packing truncates/splits at the model's sequence length rather than
    * granting an over-budget doc its own oversized pack. The split is a
    * narrow `explode` (no shuffle); chunk identity is (doc_id, chunk_idx)
    * and sharding keys on both, so a pathological giant document spreads
    * its chunks across shards instead of serializing one window. A
    * zero-token doc still yields one empty chunk, preserving corpus
    * accounting. Output: (doc_id, chunk_idx, n_tokens, shard,
    * pack_in_shard). */
  def packSequencesSplit(docs: DataFrame, tokensCol: Column, budget: Long,
                         maxSeqLen: Long,
                         numShards: Int = 32): DataFrame = {
    require(maxSeqLen > 0 && maxSeqLen <= budget,
      s"maxSeqLen must be in (0, budget=$budget], got $maxSeqLen")
    val chunks = docs
      .select(col("doc_id"), tokensCol.cast("long").as("doc_tokens"))
      .withColumn("chunk_idx", explode(sequence(lit(0),
        greatest(ceil(col("doc_tokens") / lit(maxSeqLen.toDouble))
          .cast("int"), lit(1)) - 1)))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(maxSeqLen),
          col("doc_tokens") - col("chunk_idx") * lit(maxSeqLen))
          .cast("long").as("n_tokens"))
    val shard = pmod(conv(substring(
      md5(concat_ws("_", col("doc_id"), col("chunk_idx")).cast("binary")),
      1, 6), 16, 10).cast("long"), lit(numShards))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id", "chunk_idx")
    chunks.withColumn("shard", shard)
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"), col("shard"),
        floor((col("cum") - col("n_tokens")) / budget).cast("long")
          .as("pack_in_shard"))
  }

  /** BM25 keyword relevance (Robertson/Spärck Jones, the standard
    * retrieval scorer) of every document against a fixed query-term
    * set — the "pull training docs about X" primitive of corpus
    * curation and the relevance half of retrieval-augmented filtering.
    *
    * Scale: corpus statistics (N, Σdl, per-term document frequency) come
    * from ONE map-side-combined aggregate producing a single driver row
    * — |terms|+2 numbers regardless of corpus size; scoring is then a
    * pure narrow map (term frequencies are row-local array filters, the
    * idf/avgdl constants fold into codegen literals). Zero joins, one
    * scan for stats + one for scoring. */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = filter(split(lower(col("text")), " "), t => t =!= "")
    val base = docs.select(col("doc_id"), toks.as("toks"),
      size(toks).cast("long").as("dl"))
    val statAggs = Seq(count(lit(1)).as("n"), sum("dl").as("sumdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("toks"), t).cast("long")).as(s"df_$i") }
    val stats = base.agg(statAggs.head, statAggs.tail: _*).head()
    val n = stats.getLong(0)
    val sumDl = stats.getLong(1)
    val avgdl = sumDl.toDouble / n.toDouble
    val score = terms.zipWithIndex.map { case (t, i) =>
      val df = stats.getLong(2 + i)
      val idf = log((lit(n) - lit(df) + lit(0.5)) /
        (lit(df) + lit(0.5)) + lit(1.0))
      val tf = size(filter(col("toks"), x => x === t)).cast("double")
      idf * (tf * (lit(k1) + lit(1.0))) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    }.reduceLeft(_ + _)
    base.select(col("doc_id"), col("dl"), round(score, 6).as("bm25"))
  }

  /** Bigram-interpolated log-probability scorer — the step up from
    * [[unigramLogprob]] on the CCNet quality ladder: score each token
    * transition by log10(λ·P(w2|w1) + (1−λ)·P(w2)) against the corpus'
    * own LM and average per doc. Interpolation (Jelinek-Mercer) keeps
    * unseen-bigram transitions finite without discounting machinery.
    *
    * Scale mirrors the unigram path: transitions are built ROW-LOCALLY
    * (adjacent pairs via `transform` over the token array — no index
    * window, no self-join); the bigram LM is one groupBy; `vocabCap`
    * bounds both tables through the same TakeOrdered top-k (never a
    * global row_number window); scoring is two size-gated broadcast
    * joins + one doc-keyed aggregation. OOV bigrams fall back to the
    * unigram term alone; OOV unigrams to the 1/total floor.
    * Docs with fewer than 2 tokens have no transitions and drop out. */
  def bigramLogprob(docs: DataFrame, lambda: Double = 0.8,
                    vocabCap: Option[Int] = Some(1 << 20)): DataFrame = {
    val base = docs.select(col("doc_id"),
      filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
    val tk = base.select(col("doc_id"), explode(col("toks")).as("t"))
    val uni = tk.groupBy("t").agg(count(lit(1)).cast("double").as("cu"))
    val total = uni.agg(sum("cu")).head().getDouble(0)
    val tr = base
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = tr.groupBy("w1", "w2")
      .agg(count(lit(1)).cast("double").as("cb"))
    def capped(df: DataFrame, ord: Seq[Column]): DataFrame = vocabCap match {
      case Some(cap) => df.orderBy(ord: _*).limit(cap)
      case None      => df
    }
    val uniV = capped(uni, Seq(col("cu").desc, col("t").asc))
    val bigV = capped(big,
      Seq(col("cb").desc, col("w1").asc, col("w2").asc))
    // P(w2|w1): capped-bigram side broadcasts against the unigram counts
    val cond = uni.join(
        graft.ops.PlanHints.gatedBroadcast(bigV),
        col("t") === col("w1"))
      .select(col("w1"), col("w2"), (col("cb") / col("cu")).as("p_cond"))
    val unip = uniV.select(col("t").as("w2"),
      (col("cu") / total).as("p_uni"))
    val floorP = 1.0 / total
    tr
      .join(graft.ops.PlanHints.gatedBroadcast(cond), Seq("w1", "w2"), "left")
      .join(graft.ops.PlanHints.gatedBroadcast(unip), Seq("w2"), "left")
      .select(col("doc_id"),
        log10(lit(lambda) * coalesce(col("p_cond"), lit(0.0)) +
          (lit(1.0) - lit(lambda)) * coalesce(col("p_uni"), lit(floorP)))
          .as("logp"))
      .groupBy("doc_id")
      .agg(round(avg("logp"), 6).as("avg_logprob"),
        count(lit(1)).as("n_transitions"))
  }

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    * smoothing inside kenlm, i.e. what CCNet's perplexity filter actually
    * runs) — the step up from [[bigramLogprob]]'s Jelinek-Mercer mix:
    * absolute discounting plus a CONTINUATION-count backoff (how many
    * distinct contexts a word follows, not how often it occurs), which is
    * what stops high-frequency-but-context-bound tokens from inflating
    * backoff mass. P(w2|w1) = (max(c12−D,0) + D·N1+(w1,·)·P_cont(w2)) /
    * c(w1,·), with P_cont(w2) = N1+(·,w2)/|bigram types|.
    *
    * Scale shape identical to the JM scorer: transitions are row-local
    * adjacent pairs (no index window), the three model tables (bigram,
    * context stats, continuation counts) are type-bounded aggs re-attached
    * through size-gated broadcasts; the one scalar driver value is the
    * distinct-bigram-type count. Emits (doc_id, avg_logprob,
    * n_transitions) over docs with ≥1 transition. */
  def kneserNeyLogprob(docs: DataFrame,
                       discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    val base = docs.select(col("doc_id"),
      filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
    val tr = base
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = tr.groupBy("w1", "w2")
      .agg(count(lit(1)).cast("double").as("cb"))
    val ctx = big.groupBy("w1")
      .agg(sum("cb").as("c1"), count(lit(1)).cast("double").as("n1w1"))
    val cont = big.groupBy("w2")
      .agg(count(lit(1)).cast("double").as("n1w2"))
    val nTypes = big.count().toDouble
    val d = lit(discount)
    tr.join(graft.ops.PlanHints.gatedBroadcast(big),
        Seq("w1", "w2"), "left")
      .join(graft.ops.PlanHints.gatedBroadcast(ctx), Seq("w1"))
      .join(graft.ops.PlanHints.gatedBroadcast(cont), Seq("w2"))
      .select(col("doc_id"),
        log10((greatest(coalesce(col("cb"), lit(0.0)) - d, lit(0.0)) +
          d * col("n1w1") * (col("n1w2") / lit(nTypes))) / col("c1"))
          .as("logp"))
      .groupBy("doc_id")
      .agg(round(avg("logp"), 6).as("avg_logprob"),
        count(lit(1)).as("n_transitions"))
  }

  /** Segment-level exact deduplication with document reassembly — the
    * paragraph-dedup stage of CCNet/Dolma-style pipelines (boilerplate
    * headers/footers repeat across pages; drop every occurrence but the
    * first), expressed over single-line documents by cutting each doc
    * into fixed `segLen`-token segments. Keep-first is the GLOBAL
    * (doc_id, seg_idx) lexicographic minimum per distinct segment text,
    * so the result is order-deterministic, not first-seen-by-a-task.
    *
    * Scale: segmentation is a narrow map (`transform` over a `sequence`,
    * no shuffle); the canonical-occurrence pass is ONE groupBy keyed on
    * the 128-bit md5 of the segment (the wide text travels once inside
    * the min struct, ids otherwise); reassembly is one doc-keyed groupBy.
    * Two shuffles total, both key-balanced — a hot boilerplate segment
    * is ONE group row, not a pair explosion.
    *
    * Output per input doc: (doc_id, n_segments, n_kept, text_dedup) —
    * docs whose every segment was seen earlier keep an empty text, so
    * corpus accounting never loses rows.
    *
    * `perDoc = true` narrows the scope to WITHIN each document (strip
    * internally-repeated boilerplate but keep cross-doc repeats — the
    * intra-doc half of the Dolma paragraph pass); the canonical groupBy
    * then keys on (doc_id, segment-hash), which also removes the only
    * corpus-global key of the operator. */
  def segmentDedup(docs: DataFrame, segLen: Int = 20,
                   perDoc: Boolean = false): DataFrame = {
    require(segLen > 0, s"segLen must be positive, got $segLen")
    val toks = split(col("text"), " ")
    val nSeg = greatest(
      ceil(size(toks) / lit(segLen.toDouble)).cast("int"), lit(1))
    val segs = docs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nSeg - 1),
          i => array_join(slice(toks, i * segLen + 1, lit(segLen)), " ")))
          .as(Seq("seg_idx", "seg")))
    // canonical (first) occurrence per distinct segment: min over the
    // (doc_id, seg_idx, seg) struct — doc_id/seg_idx decide, seg rides
    // along (constant within the group) so no re-join is needed
    val h = md5(col("seg").cast("binary")).as("h")
    val canon =
      if (perDoc)
        segs.groupBy(col("doc_id"), h)
          .agg(min(struct(col("seg_idx"), col("seg"))).as("first"))
          .select(col("doc_id"), col("first.seg_idx").as("seg_idx"),
            col("first.seg").as("seg"))
      else
        segs.groupBy(h)
          .agg(min(struct(col("doc_id"), col("seg_idx"), col("seg")))
            .as("first"))
          .select(col("first.doc_id").as("doc_id"),
            col("first.seg_idx").as("seg_idx"), col("first.seg").as("seg"))
    segs
      .join(canon.select(col("doc_id"), col("seg_idx"),
          lit(1).as("is_first")),
        Seq("doc_id", "seg_idx"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        coalesce(sum("is_first"), lit(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("is_first").isNotNull,
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("text_dedup"))
  }

  /** C4-style per-domain quality cap: keep only the top-k documents per
    * domain by a quality score (crawl corpora are dominated by a few head
    * domains; capping them is the standard mix-rebalancing move). The
    * naive plan — `row_number().over(Window.partitionBy(domain))` —
    * serializes a head domain's ENTIRE slice through one task at 100 TB.
    * This uses the bounded [[graft.agg.TopKAgg]] instead: map-side partial
    * top-k per domain, so the exchange moves `domains × k` rows and a
    * billion-page domain costs the same shuffle bytes as a ten-page one.
    * Ordering matches the window exactly: (score desc, doc_id asc). */
  def domainTopK(docs: DataFrame, domain: Column, score: Column,
                 k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    docs.select(domain.as("domain"), score.as("s"), col("doc_id"))
      .groupBy("domain")
      .agg(graft.agg.TopKAgg.topK(k)(col("s"), col("doc_id")).as("top"))
      .select(col("domain"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("domain"), (col("p") + 1).cast("int").as("rank"),
        col("t._2").as("doc_id"), col("t._1").as("score"))
  }

  /** Encoding-health signals (ftfy-style triage, narrow codegen map):
    * U+FFFD replacement-char count (the tell of a mis-decoded byte
    * stream), C0 control chars outside \t\n\r (binary junk inside
    * "text"), and the clean verdict at the given ratio threshold. Counts
    * by length-difference against a char-class strip — both regexes are
    * RE2-compatible so the oracle reproduces them verbatim. */
  /** Unicode/text canonicalization — the first transform of every crawl
    * pipeline (two byte-different spellings of the same string otherwise
    * defeat exact dedup and token counting). Deterministic order: NFC
    * compose → strip C0 controls (tab/newline → space first) → collapse
    * whitespace runs → trim → optional casefold. NFC is the ONE step
    * with no Spark built-in, so it is a (documented) scalar UDF — a
    * per-row `java.text.Normalizer` call with no state; everything else
    * stays codegen'd `regexp_replace`/`lower`. The oracle mirrors each
    * step (DuckDB `nfc_normalize`), so canonical text is value-checked
    * cross-engine. */
  def normalizeText(docs: DataFrame,
                    casefold: Boolean = true): DataFrame = {
    val nfc = udf { (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    }
    val composed = nfc(col("text"))
    val spaced = regexp_replace(composed, "[\\t\\n\\r]", " ")
    val noCtrl = regexp_replace(spaced, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", "")
    val collapsed = trim(regexp_replace(noCtrl, " +", " "))
    val out = if (casefold) lower(collapsed) else collapsed
    docs.withColumn("text", out)
  }

  /** HTML boilerplate strip (crawl-to-text): drop script/style subtrees,
    * then every remaining tag, decode the six entities that survive
    * extraction, collapse whitespace. All RE2-compatible patterns with
    * `(?s)` dot-all, replayed verbatim by the oracle — a narrow codegen
    * map except for nothing: zero UDFs. Runs AFTER [[normalizeText]]'s
    * NFC in a real pipeline; order here is tags-then-entities so literal
    * `&lt;tag&gt;` text can never be re-parsed as markup. */
  def stripHtml(docs: DataFrame): DataFrame = {
    val noScript = regexp_replace(col("text"),
      "(?s)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noScript, "(?s)<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    // entity spellings contain no regex metacharacters, and `&amp;` is
    // decoded LAST so "&amp;lt;" ends as the literal "&lt;", never "<"
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    docs.withColumn("text",
      trim(regexp_replace(decoded, "\\s+", " ")))
  }

  def encodingQuality(docs: DataFrame,
                      maxBadRatio: Double = 0.01): DataFrame = {
    val n = length(col("text")).cast("double")
    val repl = (length(col("text")) -
      length(regexp_replace(col("text"), "\uFFFD", ""))).cast("long")
    val ctrl = (length(col("text")) -
      length(regexp_replace(col("text"),
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""))).cast("long")
    // empty text → undefined ratio → NULL, same as DuckDB's x/0 (ANSI
    // Spark would crash — fuzz gate); is_clean is CONCRETE true there
    // (zero chars hold zero bad bytes), because a NULL boolean would
    // round-trip differently through parquet vs the oracle harness
    val ratio = when(n > 0, (repl + ctrl) / n)
    docs.select(col("doc_id"),
        repl.as("n_replacement"), ctrl.as("n_control"),
        length(col("text")).cast("long").as("n_chars"),
        round(ratio, 6).as("bad_ratio"),
        coalesce(ratio <= maxBadRatio, lit(true)).as("is_clean"))
  }

  /** CCNet head/middle/tail perplexity bucketing: score every doc with the
    * corpus unigram LM ([[unigramLogprob]] — higher mean logprob = more
    * language-like), cut the score distribution at its 1/3 and 2/3
    * quantiles, and label the thirds. CCNet keeps "head" (lowest
    * perplexity) for LM training and drops/downsamples "tail".
    *
    * Scale: the quantile runs over ONE row per document (not tokens), via
    * `percentile_approx` whose `accuracy` bounds executor memory — exact
    * (`Int.MaxValue`) only at test scale for oracle parity, the default
    * 1e6 is the production knob (same contract as
    * [[graft.ops.Binning]]). Cuts are folded back as literals, so the
    * labeling pass is a narrow map over the scored table. */
  def pplBuckets(docs: DataFrame, vocabCap: Option[Int] = Some(1 << 20),
                 accuracy: Int = 1000000): DataFrame = {
    val scored = unigramLogprob(docs, vocabCap)
    val Seq(b1, b2) = scored
      .agg(percentile_approx(col("avg_logprob"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)))
      .head().getSeq[Double](0).toSeq
    scored.select(col("doc_id"), col("avg_logprob"), col("n_tokens"),
      when(col("avg_logprob") >= b2, "head")
        .when(col("avg_logprob") >= b1, "middle")
        .otherwise("tail").as("bucket"))
  }

  /** Corpus vocabulary diagnostics for the data card: vocabulary size,
    * hapax-legomenon share (the classic "how much of this corpus is
    * one-off noise" signal), head-mass of the top-`topK` tokens, and the
    * Zipf slope — the OLS fit of ln(freq) on ln(rank) over the head
    * (natural text ≈ −1; far off means boilerplate or spam).
    *
    * Scale: the token table is ONE map-side-combined groupBy; the head is
    * a bounded distributed top-k (`orderBy.limit` → TakeOrderedAndProject
    * — per-partition partial top-k, never a global sort of the vocab,
    * same contract as the unigram-LM cap). The OLS runs over `topK` rows.
    * Ties at the head boundary break on a md5-derived token id so the cut
    * is deterministic and engine-reproducible. Two passes over the
    * (vocab-sized, corpus-reduced) token table — at cluster scale,
    * persist the counts if both branches re-deriving them matters. */
  def zipfStats(docs: DataFrame, topK: Int = 100): DataFrame = {
    require(topK > 1, s"topK must be > 1, got $topK")
    val counts = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").agg(count(lit(1)).as("c"))
    val global = counts.agg(
      count(lit(1)).as("vocab_size"),
      sum("c").as("total_tokens"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax_count"))
    // deterministic head: (count desc, md5-id asc); 15 hex digits < 2^60
    // so the id stays exact in a signed long
    val ranked = counts
      .withColumn("id",
        conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10)
          .cast("long"))
      .orderBy(col("c").desc, col("id").asc)
      .limit(topK)
      // bounded-window rank: the input is the topK-row head, not the
      // vocab; constant partition key silences the WindowExec warning
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))
          .orderBy(col("c").desc, col("id").asc)).cast("long"))
    val x = log(col("rank").cast("double"))
    val y = log(col("c").cast("double"))
    val ols = ranked.agg(
      count(lit(1)).cast("double").as("k"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"),
      sum("c").as("top_c"))
    global.crossJoin(ols).select(
      col("vocab_size"), col("total_tokens"), col("hapax_count"),
      round(col("hapax_count").cast("double") / col("vocab_size"), 6)
        .as("hapax_frac"),
      round(col("top_c").cast("double") / col("total_tokens"), 6)
        .as("top_mass"),
      round((col("k") * col("sxy") - col("sx") * col("sy")) /
        (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
  }

  /** Corpus snapshot diff — recrawl bookkeeping: given two snapshots of
    * the same logical corpus, classify every doc_id as added / deleted /
    * changed / unchanged by content hash. ONE full-outer join on doc_id
    * (AQE-sized exchange, no skew — doc_id is unique per side), hashes
    * computed as narrow maps; at 100 TB this is the cheapest possible
    * shape since every byte must be hashed at least once. */
  def snapshotDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    // presence rides EXPLICIT flags, not hash nullability — md5(NULL
    // text) is NULL, which misread a null-text doc present in BOTH
    // snapshots as "added" (fuzz gate, nulls mode); the null-safe <=>
    // keeps null text == null text as "unchanged"
    val a = prev.select(col("doc_id"),
      md5(col("text").cast("binary")).as("h_prev"),
      lit(true).as("in_prev"))
    val b = next.select(col("doc_id"),
      md5(col("text").cast("binary")).as("h_next"),
      lit(true).as("in_next"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_prev").isNull, "added")
          .when(col("in_next").isNull, "deleted")
          .when(col("h_prev") <=> col("h_next"), "unchanged")
          .otherwise("changed").as("status"))
  }
  /** Compressibility row (see [[compressibility]]). */
  final case class Compressed(doc_id: Long, n_bytes: Long,
    n_compressed: Long, ratio_ppm: Long)

  /** Deflate-compressibility quality signal (the RefinedWeb-style
    * repetition proxy: machine-generated/boilerplate text compresses far
    * better than natural prose, so an extreme ratio is a drop signal
    * that catches repetition *patterns* n-gram rules miss). Fixed
    * deflate level ⇒ deterministic within a JVM; cross-engine the
    * VALUES are not SQL-reproducible, so the query carries an
    * invariants oracle while the spec pins the orderings. Pure narrow
    * map — the deflater is per-row CPU, no state, no shuffle. */
  def compressibility(docs: DataFrame, level: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level)
        // native zlib memory is NOT freed by GC promptly — release it at
        // task end (covers both exhaustion and failure paths) instead of
        // leaking one native context per task on long-lived executors
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val in = Option(text).getOrElse("").getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0L
          while (!deflater.finished())
            out += deflater.deflate(buf)
          val ratio =
            if (in.length == 0) 0L
            else math.floor(1e6 * out / in.length).toLong
          Compressed(id, in.length.toLong, out, ratio)
        }
      }
      .toDF()
  }
}
