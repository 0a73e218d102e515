package graft.tools

import org.apache.spark.sql.execution.SparkPlan

/** Catalog-wide physical-plan lint: the scale anti-patterns the
  * per-round plan audit hunts by hand, run mechanically over EVERY
  * `SparkEntry.queries` entry and committed as `PLAN_LINT.md`.
  *
  * Flags, per query plan (pre-AQE `sparkPlan` — structural join/scan
  * choices, not runtime re-plans):
  *  - `cartesian`  — CartesianProductExec: an unkeyed n×m shuffle join;
  *    at 100 TB this is always a bug unless one side is provably tiny.
  *  - `bnlj`       — BroadcastNestedLoopJoinExec: the n² per-partition
  *    pass. Legitimate ONLY for the exact-truth duals and bounded
  *    probes (whitelisted with the reason inline).
  *  - `scan_unpushed` — a parquet scan with data filters that pushed
  *    NOTHING down: the filter runs post-materialization, so the scan
  *    reads every row group it could have skipped.
  *  - `tomb_eager_src` — a plan applying a held ANN tombstone set whose
  *    per-row source id (a regex over the row's file path) is computed
  *    outside the set's membership short-circuit, i.e. for every row
  *    scanned instead of only for rows whose id is held.
  *
  * Queries whose `fn` is eager (contract queries that collect
  * driver-side and return a local frame) lint as `LocalTableScan` —
  * their internals are covered by the explicit plan-shape asserts in
  * the suites (SimScaleSpec, IngestIndexSpec, AnnIngestSpec,
  * Round8OpsSpec bucketed join, …); this tool guards the LAZY plans the
  * driver's bench actually executes.
  *
  * Usage: `scripts/run.sh graft.tools.PlanLint [sfDir]` (default
  * sf0.001 — plan SHAPE is scale-independent for the structural flags).
  */
object PlanLint {

  final case class Finding(query: String, kind: String, detail: String)

  /** Whitelisted (query, kind) pairs — each a deliberate plan with the
    * justification inline. A whitelisted finding reports as `allowed`. */
  val Allowed: Map[(String, String), String] = Map(
    ("q_cosine_topk", "bnlj") ->
      ("exact all-pairs top-k IS the brute-force baseline; respread to" +
        " session parallelism (SimScaleSpec plan guard)"),
    ("q_ann_hamming", "bnlj") ->
      "exact hamming top-k over packed words; respread (SimScaleSpec)",
    ("q_semdedup", "bnlj") ->
      "harness-only exact-truth dual; size-gated respread",
    ("q_mmr_rerank", "bnlj") ->
      "bounded rerank pool (top-50) x candidate set — driver-bounded",
    ("q_fuzzy_join", "bnlj") ->
      "ed<=1 candidate screen joins a BROADCAST deletion-variant dict",
    ("q_minhash_est", "bnlj") ->
      "signature re-attach over bounded candidate pairs",
    ("q_chi2", "bnlj") ->
      ("category-marginal grid: |levels(a)| x |levels(b)| crossJoin " +
        "of per-level aggregates - contingency-table sized"),
    ("q_dist_distance", "bnlj") ->
      "distinct-source x k-bin grid - dimension-sized frame",
    ("q_source_overlap", "bnlj") ->
      ("per-source MinHash signature self-join: rows = |sources| " +
        "(grouped to one row per source before the non-equi join)"),
    ("q_mrr_ndcg", "bnlj") ->
      ("the exact-truth side (cosineTopK) of the retrieval-quality " +
        "contract - same brute-force baseline as q_cosine_topk"))

  /** Is this filter shape one parquet could have pushed down? Only
    * direct column-vs-literal comparisons qualify — a filter over a
    * COMPUTED expression (lambda, md5, size, cast chains) is
    * structurally un-pushable and must not be flagged. */
  private def pushable(e: org.apache.spark.sql.catalyst.expressions
      .Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def colVsLit(l: Expression, r: Expression) =
      (l.isInstanceOf[AttributeReference] && r.isInstanceOf[Literal]) ||
        (r.isInstanceOf[AttributeReference] && l.isInstanceOf[Literal])
    e match {
      case b: BinaryComparison => colVsLit(b.left, b.right)
      case In(a: AttributeReference, vs) => vs.forall(_.isInstanceOf[Literal])
      case IsNull(_: AttributeReference) => true
      case IsNotNull(_: AttributeReference) => true
      case StartsWith(a: AttributeReference, _: Literal) => true
      case And(l, r) => pushable(l) && pushable(r)
      case Or(l, r) => pushable(l) && pushable(r)
      case Not(c) => pushable(c)
      case _ => false
    }
  }

  /** A side that provably produces at most ONE row (or a bounded local
    * frame) — the legitimate crossJoin pattern (scalar counts joined
    * for a ratio). The walk descends ONLY through row-count-preserving
    * or row-reducing wrappers (project/filter/sort/exchange/codegen):
    * a blind subtree search would exempt a LARGE side merely built on
    * top of a scalar aggregate (e.g. `scalarAgg.crossJoin(huge)` as
    * the build side) — a joins/generate node can re-expand rows, so it
    * stops the walk. */
  private[graft] def scalarSide(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate._
    import org.apache.spark.sql.execution.exchange._
    p match {
      case h: HashAggregateExec if h.groupingExpressions.isEmpty => true
      case s: SortAggregateExec if s.groupingExpressions.isEmpty => true
      case o: ObjectHashAggregateExec
          if o.groupingExpressions.isEmpty => true
      // an all-literal side (driver-built frame) is bounded by
      // definition; cap guards against a large collected frame being
      // re-parallelized through the same node
      case l: LocalTableScanExec => l.rows.lengthCompare(1000) <= 0
      case r: ReusedExchangeExec => scalarSide(r.child)
      case u @ (_: ProjectExec | _: FilterExec | _: SortExec |
                _: CoalesceExec | _: ShuffleExchangeExec |
                _: BroadcastExchangeExec | _: WholeStageCodegenExec |
                _: InputAdapter | _: LocalLimitExec |
                _: GlobalLimitExec | _: UnionExec) =>
        u.children.forall(scalarSide) // union of scalars stays bounded
      case _ => false
    }
  }

  /** Subtrees whose ROW SET is not a function of the data alone — an
    * unordered `limit` (any n rows is a legal answer, and a re-execution
    * on real executor JVMs picks a DIFFERENT n rows), a `sample`
    * (stable only while its input partitioning is), or a
    * first/last/any_value aggregate over unordered input (an arbitrary
    * row per group). One such subtree
    * executed once is fine; the SAME one evaluated in 2+ places of a
    * plan silently joins/unions two different row sets — the r15
    * multi-JVM landmine (AnnIngest.queryTopK embedded its caller's
    * `.limit(600)` frame three times and nondeterministically returned
    * 0/591/600 rows; local[n] masks it completely). */
  private def nondetRowSet(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AnyValue, First, Last}
    p match {
      // limit over sorted input pins the row set; over unsorted it's
      // "any n" (TakeOrderedAndProjectExec never reaches here)
      case g: GlobalLimitExec => !g.child.exists(_.isInstanceOf[SortExec])
      case _: SampleExec => true
      // first/any_value/last over unordered input picks an arbitrary
      // row per group — same re-execution hazard as the unordered
      // limit (fine when the picked column is constant per group, but
      // the plan can't prove that; whitelist such cases explicitly)
      case a: BaseAggregateExec
          if a.aggregateExpressions.exists(_.aggregateFunction match {
            case _: First | _: Last | _: AnyValue => true
            case _ => false
          }) =>
        !a.child.exists(_.isInstanceOf[SortExec])
      case _ => false
    }
  }

  /** Expressions over file metadata (`_metadata.file_path`: the ANN
    * reader's source id) that a plan holding a [[graft.streaming.
    * AnnIngest.TombFreeUdf]] membership test evaluates outside that
    * test's short-circuit `free(vec_id) || keep(…)`. Empty for plans
    * without the test. */
  private def eagerSrcIds(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    def isFree(e: Expression) = e.exists {
      case u: ScalaUDF =>
        u.udfName.contains(graft.streaming.AnnIngest.TombFreeUdf)
      case _ => false
    }
    // an expression over the `_metadata` column, not under the right
    // branch of a membership short-circuit
    def eager(e: Expression): Seq[Expression] = e match {
      case Or(l, _) if isFree(l) => eager(l)
      case x if x.children.exists {
            case a: Attribute => a.name == "_metadata"
            case _ => false
          } => Seq(x)
      case x => x.children.flatMap(eager)
    }
    val exprs = plan.flatMap(_.expressions)
    if (!exprs.exists(isFree)) Nil
    else exprs.flatMap(eager).map(_.sql).distinct
  }

  def lintPlan(name: String, plan: SparkPlan): Seq[Finding] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val structural = plan.collect {
      case _: CartesianProductExec =>
        Finding(name, "cartesian", "CartesianProductExec in plan")
      case j: BroadcastNestedLoopJoinExec
          if !scalarSide(j.left) && !scalarSide(j.right) =>
        Finding(name, "bnlj",
          s"BNLJ joinType=${j.joinType} cond=${j.condition.isDefined}")
      case s: FileSourceScanExec
          if s.dataFilters.exists(pushable) &&
            s.metadata.get("PushedFilters").contains("[]") =>
        Finding(name, "scan_unpushed",
          s"pushable dataFilters=${s.dataFilters.filter(pushable)
            .map(_.sql).mkString(",")}")
    }
    // nondet-frame reuse: group every nondeterministic-row-set subtree
    // by canonical form; 2+ occurrences means the plan RE-EXECUTES it
    // (a ReusedExchangeExec duplicate doesn't re-walk the subtree, so
    // genuinely-shared shuffle output never false-positives here)
    val nondetReuse = plan.collect { case p if nondetRowSet(p) => p }
      .groupBy(_.canonicalized).filter(_._2.sizeIs >= 2)
      .map { case (_, occ) =>
        Finding(name, "nondet_reuse",
          s"${occ.head.nodeName} subtree (unordered limit/sample/" +
            "first-pick agg) " +
            s"evaluated ${occ.size}x in one plan — each execution is a " +
            "different legal row set on real executors; snapshot it " +
            "(localCheckpoint) or sort before the limit")
      }.toSeq
    val eagerSrc = eagerSrcIds(plan).map(e =>
      Finding(name, "tomb_eager_src", s"per-row $e outside the held " +
        "tombstone set's membership short-circuit"))
    structural ++ nondetReuse ++ eagerSrc
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val results = graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val findings =
          try lintPlan(name, fn(spark, dir).queryExecution.sparkPlan)
          catch {
            case e: Throwable =>
              Seq(Finding(name, "error", e.getClass.getSimpleName))
          }
        graft.tools.Harness.dropLeftovers(spark)
        (name, findings)
    }
    // one finding per (query, kind): a query with several BNLJ nodes is
    // ONE audit item, not several (the r10 report double-counted)
    val flat = results.flatMap(_._2)
      .distinctBy(f => (f.query, f.kind))
    val (allowed, flagged) = flat.partition(f =>
      Allowed.contains((f.query, f.kind)))
    val md = new StringBuilder
    md ++= "# PLAN_LINT — catalog-wide physical-plan audit\n\n"
    md ++= s"Queries linted: ${results.size}. Flagged: ${flagged.size}. "
    md ++= s"Whitelisted: ${allowed.size}.\n\n"
    if (flagged.nonEmpty) {
      md ++= "## Flagged (fix or whitelist with justification)\n\n"
      flagged.foreach(f =>
        md ++= s"- **${f.query}** `${f.kind}`: ${f.detail}\n")
      md ++= "\n"
    }
    if (allowed.nonEmpty) {
      md ++= "## Whitelisted (deliberate plans)\n\n"
      allowed.foreach { f =>
        md ++= s"- ${f.query} `${f.kind}`: ${Allowed((f.query, f.kind))}\n"
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLAN_LINT.md"), md.toString)
    println(s"[planlint] ${results.size} queries, " +
      s"${flagged.size} flagged, ${allowed.size} allowed -> PLAN_LINT.md")
    flagged.foreach(f => println(s"[planlint] FLAG ${f.query} " +
      s"${f.kind}: ${f.detail}"))
    spark.stop()
  }
}
