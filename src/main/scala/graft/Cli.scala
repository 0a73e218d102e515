package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.catalog.{CatalogIO, DataSpec, NormType}
import graft.ops.Normalize
import graft.pipeline.Pipeline

/** User-facing CLI — the reference's verb surface (`ShifuCLI.java:174-417`:
  * `shifu init/stats/varselect/normalize/train/eval/export`) on the Spark
  * engine, so a reference user can drive the same lifecycle from a shell:
  *
  * {{{
  * graft.Cli run    --data <parquet> --target <col> --pos R --neg A,N \
  *                  --candidates c1,c2,... [--topn 5] [--normtype zscale] \
  *                  [--catalog ColumnConfig.json] [--out outDir]
  * graft.Cli stats  --data ... --target ... --pos ... --neg ... \
  *                  --candidates ... --catalog ColumnConfig.json
  * graft.Cli norm   --data ... --target ... --pos ... --neg ... \
  *                  --catalog ColumnConfig.json --out outDir [--normtype woe]
  * graft.Cli eval   --data ... --target ... --pos ... --neg ... \
  *                  --score <metaCol> [--weight <col>] [--out report.html]
  * graft.Cli export --data ... --target ... --pos ... --neg ... \
  *                  --candidates ... --out model.pmml
  * graft.Cli new    --out ModelConfig.json [--target t --pos 1 --neg 0 ...]
  * graft.Cli <verb> --spec ModelConfig.json ...   # dataSet defaults from file
  * graft.Cli stats  ... [--corr out] [--psi unitCol] [--rebin col] \
  *                  [--topk col [--topkn 100] [--topkout dir]]
  * graft.Cli varsel --catalog ColumnConfig.json --topn 5 \
  *                  [--method ks|iv|pareto|itsa] [--list true] [--reset true]
  * graft.Cli train  --data ... --catalog ... [--algo lr|nn|svm|dt|rf|gbt] \
  *                  [--out model.json]
  * graft.Cli posttrain --data ... --catalog ... [--calibrate true]
  * graft.Cli encode --data ... --catalog ... [--depth 4] [--out dir]
  * graft.Cli combo  --data ... --catalog ... [--algos lr,dt] [--out dir]
  * graft.Cli test   --data ... --filter 'e1;e2' [--n 100]  # filter dry-run
  * graft.Cli export ... [--type pmml|bagging|baggingpmml|columnstats|woemapping|corr]
  * graft.Cli eval   ... [--confmat dir] [--scoreout dir] [--norm dir]
  *                  [--perf confmatDir]   # metrics from a saved confmat
  * graft.Cli validate --data t.parquet [--notnull c1,c2] [--range c:lo:hi]
  *                  [--inset c:v1|v2] [--unique c] [--fk c:dim.parquet:key]
  *                  [--minrate 0.95] [--out report.json]
  * graft.Cli inspect --spec ModelConfig.json [--data path] [--sets f.json]
  *                  [--binmethod m] [--binalgo a] [--meta a,b]  # spec gate
  * graft.Cli gate   --feed docs/ --index idx/ --out decisions/
  *                  [--checkpoint c/] [--intra true] [--compactevery 16]
  * graft.Cli gate   --index idx/ --retract docs/ [--tag takedown]
  * graft.Cli annindex --feed emb/ --index idx/ [--cells auto] [--retrain true] [--split skew] [--fold frac]
  * graft.Cli annindex --index idx/ --query e/ [--k 3] [--nprobe 1] [--out r/]
  * graft.Cli annindex --index idx/ --delete ids/ [--tag takedown]
  * }}}
  *
  * `run` = init(autotype) → stats → varsel → norm → train → eval, printing
  * the selected columns and the distributed-sweep AUC; `export` fits the
  * selected features and writes the model as PMML
  * (`ExportModelProcessor` parity via [[graft.score.Score.exportPmml]]).
  */
object Cli {

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    // strict pairing: every token must be a --flag followed by a value —
    // a silently shifted/dropped pair would misconfigure the whole run
    val pairs = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
      case bad => throw new IllegalArgumentException(
        s"expected '--flag value' pairs, got '${bad.mkString(" ")}'")
    }.toSeq
    // a repeated flag is almost always a copy-paste slip; last-wins
    // would silently drop the earlier value
    val dups = pairs.groupBy(_._1).collect {
      case (k, vs) if vs.length > 1 => k }
    if (dups.nonEmpty)
      throw new IllegalArgumentException(
        s"duplicate flag(s): ${dups.toSeq.sorted.map("--" + _).mkString(", ")}")
    pairs.toMap
  }

  /** Flags the shared lazy spec/data context can read under any verb. */
  private val SharedFlags = Set("data", "spec", "target", "pos", "neg",
    "weight", "filter", "filtersep", "normtype", "topn", "candidates",
    "out")

  /** Per-verb flag whitelist: a flag in neither this set nor
    * [[SharedFlags]] fails loudly up front. A typo'd flag silently
    * doing nothing misconfigures the whole run — exactly the r14
    * `test --filtersep` defect class, enforced structurally here. */
  private[graft] val VerbFlags: Map[String, Set[String]] = Map(
    "new" -> Set(),
    "run" -> Set("catalog"),
    "init" -> Set("catalog"),
    "stats" -> Set("catalog", "corr", "drift", "hll", "merge", "psi",
      "rebin", "sketch", "threshold", "topk", "topkn", "topkout"),
    "norm" -> Set("catalog", "format", "shuffle"),
    "eval" -> Set("buckets", "catalog", "confmat", "delete", "list",
      "new", "norm", "perf", "run", "scale", "score", "scoreout",
      "sets", "switch"),
    "export" -> Set("algo", "bags", "catalog", "metric", "trees",
      "type"),
    "varsel" -> Set("catalog", "list", "method", "recover", "reset"),
    "train" -> Set("algo", "catalog", "cmd", "workdir"),
    "posttrain" -> Set("calibrate", "catalog"),
    "encode" -> Set("catalog", "depth"),
    "combo" -> Set("algos", "catalog"),
    "test" -> Set("n"),
    "inspect" -> Set("binalgo", "binmethod", "forceremove",
      "forceselect", "meta", "sets"),
    "validate" -> Set("fk", "inset", "minrate", "notnull", "range",
      "unique"),
    "warehouse" -> Set("drop", "prune"),
    "gate" -> Set("checkpoint", "compactevery", "feed", "index",
      "intra", "retract", "tag"),
    "annindex" -> Set("cells", "checkpoint", "compactevery", "delete",
      "feed", "fold", "index", "k", "nprobe", "query", "retrain",
      "split", "tag"))

  /** Backtick-quote a flag-sourced plain column name for the JEXL path
    * (idempotent: already-quoted input passes through). Names containing a
    * raw backtick are out of scope engine-wide (Spark's attribute parser
    * rejects them — see Queries.scala parity rules). */
  private def quoteWeightFlag(w: String): String =
    if (w.startsWith("`") && w.endsWith("`") && w.length >= 2) w
    else s"`$w`"

  private def normTypeOf(s: String): NormType = s.toLowerCase match {
    case "zscale"    => NormType.ZScale
    case "woe"       => NormType.Woe
    case "onehot"    => NormType.OneHot
    case "woezscore" => NormType.WoeZScore
    case "hybrid"    => NormType.Hybrid
    case "raw"       => NormType.Raw
    case other => throw new IllegalArgumentException(
      s"unknown normtype '$other' (zscale|woe|onehot|woezscore|hybrid|raw)")
  }

  /** Testable entry: returns the lines it would print. */
  def run(spark: SparkSession, verb: String,
          opts: Map[String, String]): Seq[String] = {
    // fail-fast flag audit BEFORE any work: an unknown verb falls
    // through to the dispatch's own loud error below
    VerbFlags.get(verb).foreach { allowed =>
      val unknown = opts.keySet -- allowed -- SharedFlags
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"unknown flag(s) for '$verb': " +
            unknown.toSeq.sorted.map("--" + _).mkString(", ") +
            s" (known: ${(allowed ++ SharedFlags).toSeq.sorted
              .mkString(", ")})")
    }
    // `shifu new` writes the spec file and needs no data/spec context
    if (verb == "new") {
      val starter = DataSpec(
        targetColumn = opts.getOrElse("target", "target"),
        posTags = opts.getOrElse("pos", "1").split(",").toSet,
        negTags = opts.getOrElse("neg", "0").split(",").toSet,
        weightColumn = opts.get("weight").map(quoteWeightFlag),
        // same --filtersep-aware split as the main spec builder below — a
        // hard-coded ';' here silently mis-split filters containing a
        // literal ';' exactly when written via `new`
        filterExpressions = opts.get("filter")
          .map(_.split(java.util.regex.Pattern.quote(
            opts.getOrElse("filtersep", ";"))).toSeq)
          .getOrElse(Nil))
      graft.catalog.SpecIO.write(opts("out"), starter)
      return Seq(s"spec: ${opts("out")}")
    }
    // LAZY context: catalog-only verbs (varsel list/reset/rank, export -t
    // columnstats/woemapping) never read data, and `test` needs no tag
    // spec — each verb pays only for what it touches, and "missing
    // --target" surfaces only where a spec is actually required
    lazy val df = spark.read.parquet(opts("data"))
    // --spec ModelConfig.json supplies dataSet defaults; explicit flags win
    lazy val fileSpec = opts.get("spec").map(graft.catalog.SpecIO.read)
    def fromEither[A](flag: String, parse: String => A,
                      fromFile: DataSpec => A): A =
      opts.get(flag).map(parse)
        .orElse(fileSpec.map(fromFile))
        .getOrElse(throw new IllegalArgumentException(
          s"missing --$flag (or provide it via --spec <file>)"))
    lazy val spec = DataSpec(
      targetColumn = fromEither("target", identity, _.targetColumn),
      posTags = fromEither("pos", _.split(",").toSet, _.posTags),
      negTags = fromEither("neg", _.split(",").toSet, _.negTags),
      // spec.weightColumn semantics are JEXL (reference weightColumnName /
      // NormalizeUDF), but the --weight FLAG is a plain column name —
      // backtick-escape it at the flag boundary so it stays a column
      // lookup through every JEXL consumer (stats --rebin, norm, frozen
      // eval sets), even for names like 'my-weight' that would otherwise
      // lex as arithmetic
      weightColumn = opts.get("weight").map(quoteWeightFlag)
        .orElse(fileSpec.flatMap(_.weightColumn)),
      // --filter splits on --filtersep (default ';', the reference's
      // convention); a JEXL expression that needs a literal ';' passes
      // e.g. --filtersep '@@' --filter "a == 'x;y' @@ b > 3"
      filterExpressions = opts.get("filter")
        .map(_.split(java.util.regex.Pattern.quote(
          opts.getOrElse("filtersep", ";"))).toSeq)
        .orElse(fileSpec.map(_.filterExpressions).filter(_.nonEmpty))
        .getOrElse(Nil))
    val normType = normTypeOf(opts.getOrElse("normtype", "zscale"))
    val topN = opts.getOrElse("topn", "5").toInt
    def candidates = opts("candidates").split(",").toSeq

    verb match {
      case "run" =>
        val r = Pipeline.autoRun(df, spec, candidates, topN, normType,
          opts.get("catalog"))
        opts.get("out").foreach(o =>
          r.normalized.write.mode("overwrite").parquet(o))
        Seq(s"selected: ${r.selected.mkString(",")}",
          f"auc: ${r.auc}%.6f")

      case "init" =>
        // `shifu init` (InitModelProcessor): create the ColumnConfig
        // skeleton — column numbers, auto-typed kinds, no stats yet
        val clean = Pipeline.init(df, spec)
        val (num, cat) = Pipeline.autoColumns(clean, candidates)
        val skeleton = candidates.zipWithIndex.map { case (c, i) =>
          graft.catalog.ColumnProfile(columnNum = i, columnName = c,
            kind = if (num.contains(c)) graft.catalog.ColumnKind.Numeric
                   else graft.catalog.ColumnKind.Categorical)
        }
        CatalogIO.write(opts("catalog"), skeleton)
        Seq(s"catalog: ${opts("catalog")} initialized " +
          s"(${num.length} numeric, ${cat.length} categorical)")

      case "stats" if opts.contains("drift") =>
        // catalog-level drift (no data scan): per-column PSI between two
        // frozen-binning catalogs — stats --drift today.json --catalog
        // baseline.json [--threshold 0.2]
        val baseline = CatalogIO.read(opts("catalog"))
        val current = CatalogIO.read(opts("drift"))
          .map(p => p.columnName -> p).toMap
        val threshold = opts.getOrElse("threshold", "0.2").toDouble
        val lines = baseline.flatMap { p =>
          current.get(p.columnName).flatMap { q =>
            val comparable =
              (p.binning.binBoundary.nonEmpty &&
                p.binning.binBoundary == q.binning.binBoundary) ||
              (p.binning.binCategory.nonEmpty &&
                p.binning.binCategory == q.binning.binCategory)
            if (!comparable) None
            else {
              // monitor convention: ε-floored so disjoint distributions
              // read as the huge drift they are, never as 0
              val psi = graft.ops.StatsMerge.psiBetween(p, q, eps = 1e-10)
              Some(f"drift: ${p.columnName} psi=$psi%.6f" +
                (if (psi > threshold) " ALERT" else ""))
            }
          }
        }
        require(lines.nonEmpty,
          "no comparable columns (catalogs must share frozen binning)")
        lines

      case "stats" if opts.contains("merge") =>
        // incremental catalog maintenance (no data scan at all):
        //   stats --merge dayA.json,dayB.json --catalog merged.json
        // Per-partition catalogs profiled under the SAME frozen bounds
        // (profileNumeric(boundsOverride)) merge distributively — see
        // ops.StatsMerge. Numeric columns with matching boundaries merge;
        // anything else passes through from the FIRST catalog unchanged
        // and is reported, never silently mixed.
        val paths = opts("merge").split(",").toSeq
        require(paths.length >= 2, "--merge needs at least two catalogs")
        val catalogs = paths.map(CatalogIO.read)
        var skipped = List.empty[String]
        val merged = catalogs.reduce { (as, bs) =>
          val byName = bs.map(p => p.columnName -> p).toMap
          as.map { p =>
            byName.get(p.columnName) match {
              case Some(q)
                if p.kind == graft.catalog.ColumnKind.Numeric &&
                  q.kind == p.kind &&
                  p.binning.binBoundary.nonEmpty &&
                  p.binning.binBoundary == q.binning.binBoundary =>
                graft.ops.StatsMerge.merge(p, q)
              case Some(q)
                if p.kind == graft.catalog.ColumnKind.Categorical &&
                  q.kind == p.kind &&
                  p.binning.binCategory.nonEmpty &&
                  p.binning.binCategory == q.binning.binCategory =>
                graft.ops.StatsMerge.merge(p, q)
              case _ =>
                skipped ::= p.columnName; p
            }
          }
        }
        // quantile sidecars (<catalog>.quantiles, written by
        // `stats --sketch`): when EVERY input has one, the merged catalog
        // regains median/p25/p75 from the merged sketches — the one stat
        // family a finalized catalog can't merge on its own
        val sidecars = paths.map(p => new java.io.File(s"$p.quantiles"))
        val (withQ, sketchLine) =
          if (sidecars.forall(_.exists())) {
            val maps = sidecars.map { f =>
              java.nio.file.Files.readAllLines(f.toPath).asScala
                .filter(_.nonEmpty).map { line =>
                  val Array(c, s) = line.split("\t", 2)
                  c -> graft.ops.QuantileSketch.deserialize(s)
                }.toMap
            }
            val mergedSketches = maps.reduce { (ma, mb) =>
              ma.flatMap { case (c, s) =>
                mb.get(c).map(o => c -> s.compress().merge(o.compress()))
              }
            }
            val filled = merged.map { p =>
              mergedSketches.get(p.columnName) match {
                case Some(s) if p.kind == graft.catalog.ColumnKind.Numeric =>
                  p.copy(stats = p.stats.copy(
                    p25 = s.query(0.25), median = s.query(0.5),
                    p75 = s.query(0.75)))
                case _ => p
              }
            }
            val out = s"${opts("catalog")}.quantiles"
            java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
              mergedSketches.toSeq.sortBy(_._1).map { case (c, s) =>
                s"$c\t${graft.ops.QuantileSketch.serialize(s)}"
              }.mkString("\n"))
            (filled,
              Seq(s"quantiles: ${mergedSketches.size} sketches merged -> " +
                out))
          } else (merged, Nil)
        // HLL sidecars (<catalog>.hll, written by `stats --hll`): when
        // EVERY input has one, the merged catalog regains distinctCount
        // from the register-wise max — the OTHER stat family a finalized
        // catalog can't merge on its own (see agg.Hll)
        val hllSidecars = paths.map(p => new java.io.File(s"$p.hll"))
        val (withH, hllLine) =
          if (hllSidecars.forall(_.exists())) {
            val maps = hllSidecars.map { f =>
              java.nio.file.Files.readAllLines(f.toPath).asScala
                .filter(_.nonEmpty).map { line =>
                  val Array(c, s) = line.split("\t", 2)
                  c -> graft.agg.Hll.deserialize(s)
                }.toMap
            }
            val mergedRegs = maps.reduce { (ma, mb) =>
              ma.flatMap { case (c, r) =>
                mb.get(c).map(o => c -> graft.agg.Hll.merge(r, o))
              }
            }
            val filled = withQ.map { p =>
              mergedRegs.get(p.columnName) match {
                case Some(r) if p.kind == graft.catalog.ColumnKind.Numeric =>
                  p.copy(stats = p.stats.copy(distinctCount =
                    Some(math.round(graft.agg.Hll.estimate(r)))))
                case _ => p
              }
            }
            val out = s"${opts("catalog")}.hll"
            java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
              mergedRegs.toSeq.sortBy(_._1).map { case (c, r) =>
                s"$c\t${graft.agg.Hll.serialize(r)}"
              }.mkString("\n"))
            (filled,
              Seq(s"hll: ${mergedRegs.size} sketches merged -> $out"))
          } else (withQ, Nil)
        CatalogIO.write(opts("catalog"), withH)
        Seq(s"mergestats: ${paths.length} catalogs -> ${opts("catalog")} " +
          s"(${withH.length} columns, ${skipped.distinct.length} passed " +
          "through unmerged)") ++ sketchLine ++ hllLine ++
          (if (skipped.nonEmpty)
            Seq(s"unmerged: ${skipped.distinct.sorted.mkString(",")}")
          else Nil)

      case "stats" =>
        val clean = Pipeline.init(df, spec)
        val (num, cat) = Pipeline.autoColumns(clean, candidates)
        val catalog = Pipeline.varsel(
          Pipeline.stats(clean, spec, num, cat), topN)
        CatalogIO.write(opts("catalog"), catalog)
        // reference sub-modes of the stats step (`ShifuCLI.java` usage:
        // `stats -correlation`, `stats -psi <col>`, `stats -rebin -vars`)
        val corrLine = opts.get("corr").map { out =>
          // NOTE on nulls: pearson's two physical paths differ on nully
          // data (stack = pairwise-complete, gramian at >= wideK columns
          // = listwise). `stats --corr` reports raw-data correlations, so
          // we keep pairwise semantics explicit by staying on the raw
          // input; callers needing path-independent answers on nully data
          // should impute first (autoFilter mean-imputes from the
          // catalog before its redundancy screen).
          graft.ops.Correlation.pearson(clean, num)
            .write.mode("overwrite").parquet(out)
          s"corr: $out (${num.length * (num.length - 1) / 2} pairs)"
        }
        val psiLine = opts.get("psi").map { unitCol =>
          // per-column PSI vs the unit column; catalog stats.psi carries
          // the mean over units (one scalar per column, ColumnStats.psi)
          // and stats.unitStats the sorted per-unit "unit|psi" strings
          // (reference PSICalculatorUDF.java:69-106 collects + sorts the
          // unit payloads into ColumnStats.unitStats)
          val updated = catalog.map { p =>
            if (p.binning.binBoundary.nonEmpty) {
              // String.valueOf: a NULL unit group is a legal row ("null"
              // unit label), not a crash; empty result → leave psi unset
              // rather than persisting 0/0 = NaN into the catalog JSON
              val perUnit = graft.ops.Psi.compute(clean, col(p.columnName),
                  col(unitCol), p.binning.binBoundary)
                .collect().map(r => (String.valueOf(r.get(0)), r.getDouble(1)))
              if (perUnit.isEmpty) p
              else p.copy(stats = p.stats.copy(
                psi = Some(perUnit.map(_._2).sum / perUnit.length),
                unitStats = perUnit.map { case (u, v) => s"$u|$v" }
                  .sorted.toVector))
            } else p
          }
          CatalogIO.write(opts("catalog"), updated)
          s"psi: unit '$unitCol' -> stats.psi on " +
            s"${updated.count(_.stats.psi.isDefined)} columns"
        }
        val rebinLine = opts.get("rebin").map { c =>
          // dynamic rebin (two-phase fine-bin + small-bin merge) replaces
          // the column's boundaries AND every bin-derived artifact in one
          // shot: counts, weighted masses, per-bin WOE vectors and KS/IV
          // are all recomputed against the NEW boundaries (a WOE-based
          // norm/train or varsel after `--rebin` must never index old-bin
          // vectors by new bin ids), and binAvgScore — which needs a
          // score pass the stats verb doesn't have — is cleared so a
          // downstream reader fails loudly instead of reading misaligned
          // averages; a fresh `posttrain` refills it.
          val bins = graft.ops.DynamicBinning.rebin(clean, c,
            Pipeline.isPos(spec), fineK = 100, maxBins = spec.maxNumBin)
          val nb = (Double.NegativeInfinity +: bins.map(_.lo).drop(1)).toVector
          val weight = spec.weightColumn
            .map(w => graft.expr.Jexl.translate(w)).getOrElse(lit(1.0))
          val byBin = graft.ops.Binning
            .binCounts(clean, c, nb, Pipeline.isPos(spec), weight)
            .collect().map(r => r.getInt(0) ->
              (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
            .toMap
          val k = nb.length + 1 // value bins + missing
          val fresh = (0 until k).map(i =>
            byBin.getOrElse(i, (0L, 0L, 0.0, 0.0)))
          val ps  = fresh.map(_._1).toVector
          val ns  = fresh.map(_._2).toVector
          val wps = fresh.map(_._3).toVector
          val wns = fresh.map(_._4).toVector
          val m  = graft.ops.StatsMath.columnMetrics(
            ns.map(_.toDouble), ps.map(_.toDouble))
          val wm = graft.ops.StatsMath.columnMetrics(wns, wps)
          val updated = CatalogIO.read(opts("catalog")).map { p =>
            if (p.columnName == c)
              p.copy(
                stats = p.stats.copy(
                  ks = m.map(_.ks), iv = m.map(_.iv), woe = m.map(_.woe),
                  weightedKs = wm.map(_.ks), weightedIv = wm.map(_.iv),
                  weightedWoe = wm.map(_.woe)),
                binning = p.binning.copy(binBoundary = nb,
                  binCountPos = ps, binCountNeg = ns,
                  binWeightedPos = wps, binWeightedNeg = wns,
                  binPosRate = ps.zip(ns).map { case (a, b) =>
                    if (a + b == 0) 0.0 else a.toDouble / (a + b) },
                  binCountWoe = m.map(_.binWoe)
                    .getOrElse(Vector.fill(k)(0.0)),
                  binWeightedWoe = wm.map(_.binWoe)
                    .getOrElse(Vector.fill(k)(0.0)),
                  binAvgScore = Vector.empty))
            else p
          }
          CatalogIO.write(opts("catalog"), updated)
          s"rebin: $c -> ${nb.length} bins (woe/ks/iv recomputed)"
        }
        val sketchLine = opts.get("sketch").map { _ =>
          // persist mergeable quantile sketches alongside the catalog so
          // `stats --merge` can rebuild median/p25/p75 (one extra scan,
          // kilobytes per column on disk)
          val numCols = catalog
            .filter(_.kind == graft.catalog.ColumnKind.Numeric)
            .map(_.columnName)
          val sketches = graft.ops.QuantileSketch.buildFor(clean, numCols)
          val out = s"${opts("catalog")}.quantiles"
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
            sketches.toSeq.sortBy(_._1).map { case (c, s) =>
              s"$c\t${graft.ops.QuantileSketch.serialize(s)}"
            }.mkString("\n"))
          s"quantiles: ${sketches.size} sketches -> $out"
        }
        val hllLine = opts.get("hll").map { _ =>
          // persist mergeable HLL registers alongside the catalog so
          // `stats --merge` can rebuild distinctCount: ONE extra scan
          // sketches every cataloged column at once, 16 KiB each on disk
          val allCols = catalog.map(_.columnName)
          val regs = graft.agg.Hll.buildFor(clean, allCols)
          val out = s"${opts("catalog")}.hll"
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
            regs.toSeq.sortBy(_._1).map { case (c, r) =>
              s"$c\t${graft.agg.Hll.serialize(r)}"
            }.mkString("\n"))
          s"hll: ${regs.size} sketches -> $out"
        }
        val topkLine = opts.get("topk").map { c =>
          // heavy hitters for a (categorical / id-like) column via the
          // mergeable Misra-Gries sketch: tasks × k rows on the wire,
          // where an exact groupBy would shuffle the full distinct-value
          // table just to answer a ≤ k-row question
          val k = opts.getOrElse("topkn", "100").toInt
          val hh = clean.filter(col(c).isNotNull)
            .agg(graft.agg.MisraGries.sketch(k)(col(c).cast("string"))
              .as("hh"))
            .select(explode(col("hh")).as("e"))
            .select(col("e._1").as("item"), col("e._2").as("est"))
          opts.get("topkout").foreach(o =>
            hh.write.mode("overwrite").parquet(o))
          val top = hh.limit(5).collect()
            .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(",")
          s"topk: $c ($k counters) -> $top"
        }
        Seq(s"catalog: ${opts("catalog")} (${catalog.length} columns)") ++
          corrLine ++ psiLine ++ rebinLine ++ sketchLine ++ hllLine ++
          topkLine

      case "norm" =>
        val catalog = CatalogIO.read(opts("catalog"))
        val clean = Pipeline.init(df, spec)
        val normed = Pipeline.norm(clean, spec, catalog, normType)
        // `shifu norm -shuffle` (NormalizeModelProcessor.java:82-121
        // MapReduceShuffle): rebalance the normalized output so no
        // downstream trainer worker gets a giant part-file — Spark-native
        // this is a round-robin repartition before the write
        val out = opts.get("shuffle") match {
          case Some(n) => normed.repartition(n.toInt)
          case None    => normed
        }
        // --format orc: same normalized output through the ORC sink
        // (zstd, splittable) for downstream stacks that read ORC
        val fmt = opts.getOrElse("format", "parquet")
        fmt match {
          case "parquet" => out.write.mode("overwrite").parquet(opts("out"))
          case "orc"     => graft.sources.Columnar.writeOrc(out, opts("out"))
          case other => throw new IllegalArgumentException(
            s"unknown --format '$other' (parquet|orc)")
        }
        Seq(s"normalized: ${opts("out")} " +
          s"(${normed.columns.length} columns, $fmt)")

      // `shifu eval -new/-list/-delete/-switch` (EvalModelProcessor
      // set-management modes): pure bookkeeping over the named eval-set
      // file, no data scan — each set freezes its own dataSet spec +
      // data path + score column (reference EvalConfig.java:41-84)
      case "eval" if opts.contains("new") || opts.contains("delete") ||
          opts.contains("switch") || opts.get("list").contains("true") =>
        import graft.catalog.{EvalSet, EvalSetIO, EvalSets}
        val path = opts("sets")
        val cur = EvalSetIO.readOrEmpty(path)
        if (opts.get("list").contains("true")) {
          val names = cur.sets.map(s =>
            if (cur.current.contains(s.name)) s"${s.name}*" else s.name)
          return Seq(s"evals: ${names.mkString(",")}")
        }
        val next = opts.get("new").map { name =>
          val set = EvalSet(name, opts("data"), spec,
            scoreColumn = opts.get("score"),
            performanceBucketNum = opts.getOrElse("buckets", "10").toInt,
            scoreScale = opts.getOrElse("scale", "1000").toLong)
          EvalSets(cur.current.orElse(Some(name)),
            cur.sets.filterNot(_.name == name) :+ set)
        }.orElse(opts.get("delete").map { name =>
          EvalSets(cur.current.filterNot(_ == name),
            cur.sets.filterNot(_.name == name))
        }).getOrElse {
          val name = opts("switch")
          require(cur.find(name).isDefined, s"no eval set '$name'")
          EvalSets(Some(name), cur.sets)
        }
        EvalSetIO.write(path, next)
        Seq(s"evals: ${next.sets.map(_.name).mkString(",")} " +
          s"(current: ${next.current.getOrElse("-")})")

      case "eval" if opts.contains("perf") =>
        // `shifu eval -perf` (ShifuCLI.java:852-853, EvalModelProcessor
        // -perf path): recompute the PerformanceResult from a PERSISTED
        // confusion sweep (the `eval --confmat` parquet) WITHOUT
        // re-scoring — scores can be deleted, the bounded bucket table
        // alone re-derives every ranking metric. Pure re-aggregation
        // over ≤ buckets+1 rows; no corpus scan.
        val sweep = spark.read.parquet(opts("perf"))
        val auc = graft.eval.Eval.rocAuc(sweep).head().getDouble(0)
        val pr = graft.eval.Eval.prAuc(sweep).head().getDouble(0)
        val gain = graft.eval.Eval.gainChart(
          sweep.select("bucket", "tp", "fp", "fn", "tn"))
        opts.get("out").foreach(o =>
          graft.eval.Eval.gainChartHtml(gain, o, "eval --perf"))
        Seq(f"auc: $auc%.6f", f"pr_auc: $pr%.6f",
          s"buckets: ${gain.count()}") ++
          opts.get("out").map(o => s"report: $o")

      case "eval" if opts.contains("norm") =>
        // `shifu eval -norm` (EvalModelProcessor.java:357-380): normalize
        // the EVAL data set against the TRAIN-frozen catalog — identical
        // Pipeline.norm plan to the norm verb, but data + dataSet spec
        // come from the named (--run) or current eval set, falling back
        // to flag-driven --data/--target. The catalog is read-only here:
        // eval-side normalization must never refit stats, or train/serve
        // skew sneaks in through the normalizer.
        val sets = opts.get("sets").map(graft.catalog.EvalSetIO.readOrEmpty)
        val normSet = opts.get("run")
          .map(n => sets.flatMap(_.find(n)).getOrElse(
            throw new IllegalArgumentException(s"no eval set '$n'")))
          .orElse(sets.flatMap(s0 => s0.current.flatMap(s0.find)))
        val evalDf = normSet.map(s0 => spark.read.parquet(s0.dataPath))
          .getOrElse(df)
        val evalSpec = normSet.map(_.spec).getOrElse(spec)
        val catalog = CatalogIO.read(opts("catalog"))
        val normed = Pipeline.norm(
          Pipeline.init(evalDf, evalSpec), evalSpec, catalog, normType)
        normed.write.mode("overwrite").parquet(opts("norm"))
        Seq(s"evalnorm: ${opts("norm")} (${normed.columns.length} columns" +
          normSet.map(s0 => s", set: ${s0.name}").getOrElse("") + ")")

      case "eval" =>
        // external-score eval (`shifu eval` with a metaColumn score):
        // distributed sweep -> ROC AUC + gain chart, optional HTML report.
        // `--run <name>` (reference `eval -run EvalSetName`) pulls the
        // FROZEN config — data path, dataSet spec, score column, bucket
        // count — from the named set; flag-driven eval otherwise.
        val runSet = opts.get("run").map { name =>
          val sets = graft.catalog.EvalSetIO.read(opts("sets"))
          sets.find(name).getOrElse(
            throw new IllegalArgumentException(s"no eval set '$name'"))
        }
        val evalDf = runSet.map(s => spark.read.parquet(s.dataPath))
          .getOrElse(df)
        val evalSpec = runSet.map(_.spec).getOrElse(spec)
        val scoreName = runSet.flatMap(_.scoreColumn)
          .orElse(opts.get("score"))
          .getOrElse(throw new IllegalArgumentException(
            "missing --score (or a scoreMetaColumn in the eval set)"))
        val buckets = runSet.map(_.performanceBucketNum)
          .getOrElse(opts.getOrElse("buckets", "10").toInt)
        val clean = Pipeline.init(evalDf, evalSpec)
        val scoreCol = col(scoreName)
        // frozen-set weights are JEXL expressions (spec semantics) —
        // flag-sourced plain names were backtick-escaped at freeze time
        // (quoteWeightFlag), so 'my-weight' survives translation; a
        // --weight FLAG given directly here stays a plain column lookup
        val weightCol = runSet.flatMap(_.spec.weightColumn)
          .map(graft.expr.Jexl.translate)
          .orElse(opts.get("weight").map(col)).getOrElse(lit(1.0))
        val sweep = graft.eval.Eval.weightedSweep(clean, scoreCol,
          Pipeline.isPos(evalSpec), weightCol,
          Seq(monotonically_increasing_id()), buckets)
        val auc = graft.eval.Eval.rocAuc(sweep).head().getDouble(0)
        val gain = graft.eval.Eval.gainChart(
          sweep.select("bucket", "tp", "fp", "fn", "tn"))
        opts.get("out").foreach(o =>
          graft.eval.Eval.gainChartHtml(gain, o, s"eval $scoreName"))
        // reference sub-modes: `eval -confmat` (TP/FP/FN/TN buckets) and
        // `eval -score` (per-row score dump)
        opts.get("confmat").foreach(o =>
          sweep.write.mode("overwrite").parquet(o))
        // per-row dump carries the set's scoreScale (reference
        // EvalConfig.scoreScale=1000 multiplies exported scores)
        val scale = runSet.map(_.scoreScale)
          .orElse(opts.get("scale").map(_.toLong)).getOrElse(1L)
        opts.get("scoreout").foreach(o =>
          clean.select(monotonically_increasing_id().as("row_id"),
            (scoreCol * lit(scale.toDouble)).as("score"),
            Pipeline.isPos(evalSpec).cast("int").as("tag"))
            .write.mode("overwrite").parquet(o))
        Seq(f"auc: $auc%.6f",
          s"buckets: ${gain.count()}") ++
          opts.get("out").map(o => s"report: $o") ++
          opts.get("confmat").map(o => s"confmat: $o") ++
          opts.get("scoreout").map(o => s"scores: $o")

      case "export" if opts.get("type").contains("columnstats") =>
        // `shifu export -t columnstats` (ExportModelProcessor): flatten
        // the catalog's per-column stats to a parquet table
        val catalog = CatalogIO.read(opts("catalog"))
        val s2 = spark
        import s2.implicits._
        catalog.map(p => (p.columnNum, p.columnName,
            p.kind.toString, p.finalSelect,
            p.stats.ks.getOrElse(0.0), p.stats.iv.getOrElse(0.0),
            p.stats.mean.getOrElse(0.0), p.stats.stdDev.getOrElse(0.0),
            p.stats.missingCount, p.stats.totalCount))
          .toDF("column_num", "column_name", "kind", "final_select",
            "ks", "iv", "mean", "std_dev", "missing_count", "total_count")
          .coalesce(1).write.mode("overwrite").parquet(opts("out"))
        Seq(s"columnstats: ${opts("out")} (${catalog.length} rows)")

      case "export" if opts.get("type").contains("woemapping") =>
        // `shifu export -t woemapping`: per selected column, the bin →
        // WOE mapping (numeric lower bound or category, count WOE)
        val catalog = CatalogIO.read(opts("catalog"))
        val s2 = spark
        import s2.implicits._
        val rows = catalog.filter(p =>
          p.finalSelect && p.binning.binCountWoe.nonEmpty).flatMap { p =>
          p.binning.binCountWoe.zipWithIndex.map { case (w, i) =>
            val binLabel =
              if (p.binning.binBoundary.nonEmpty)
                if (i < p.binning.binBoundary.length)
                  p.binning.binBoundary(i).toString
                else "missing"
              else if (i < p.binning.binCategory.length)
                p.binning.binCategory(i)
              else "missing"
            (p.columnName, i, binLabel, w)
          }
        }
        rows.toDF("column_name", "bin_id", "bin_lo_or_category", "woe")
          .coalesce(1).write.mode("overwrite").parquet(opts("out"))
        Seq(s"woemapping: ${opts("out")} (${rows.length} rows)")

      case "export" if opts.get("type").contains("corr") =>
        // `shifu export -t corr` (ExportModelProcessor.java:82,481-530 +
        // VarCorrInfo:642-668): one CSV line per variable pair —
        // `left,right,corr,leftMetric,rightMetric`, names ordered
        // left < right, deduped, sorted; the per-column metric defaults
        // to IV (--metric ks selects KS) and comes from the catalog's
        // persisted stats. The reference replays the `stats -c` CSV from
        // disk; here the matrix is recomputed in the same one-scan
        // gramian/stack plan `stats --corr` uses, so the verb has no
        // intermediate-file dependency. The pair list is k²/2 for k
        // catalog columns (hundreds) — bounded driver math, same class
        // as the gramian result itself.
        val catalog = CatalogIO.read(opts("catalog"))
        val metricOf: graft.catalog.ColumnProfile => Double =
          opts.getOrElse("metric", "iv") match {
            case "iv" => _.stats.iv.getOrElse(Double.NaN)
            case "ks" => _.stats.ks.getOrElse(Double.NaN)
            case other => throw new IllegalArgumentException(
              s"unknown corr metric '$other' (iv|ks)")
          }
        val metricByName = catalog.map(p => p.columnName -> metricOf(p)).toMap
        val numCols = catalog
          .filter(_.kind == graft.catalog.ColumnKind.Numeric)
          .map(_.columnName)
        val clean = Pipeline.init(df, spec)
        val lines = graft.ops.Correlation.pearsonPairs(clean, numCols)
          .collect()
          .map { r =>
            val (a, b) = (r.getString(0), r.getString(1))
            if (a.compareTo(b) < 0) (a, b, r.getDouble(2))
            else (b, a, r.getDouble(2))
          }
          .distinct.sortBy(t => (t._1, t._2))
          .map { case (l, rt, c) =>
            s"$l,$rt,$c,${metricByName(l)},${metricByName(rt)}" }
        java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
          lines.toSeq.asJava)
        Seq(s"corr: ${opts("out")} (${lines.length} pairs)")

      case "export" =>
        // --algo picks the PMML family: lr → RegressionModel (default),
        // nn → NeuralNetwork, dt → TreeModel (reference
        // `core/pmml/builder/impl/` creator family); --type
        // bagging/baggingpmml export the k-member bagged ensemble
        // (reference `export -t bagging|baggingpmml`)
        val r = Pipeline.autoRun(df, spec, candidates, topN, normType, None)
        val feats = r.normalized.columns.filter(_.startsWith("n_")).toSeq
        val label = col("tag") === 1
        def baggedModels = graft.train.Train.bagged(r.normalized, feats,
            label, monotonically_increasing_id(),
            k = opts.getOrElse("bags", "3").toInt)
          .map(graft.train.Train.toLinear(_, feats))
        val (kind, out) = opts.getOrElse("type", "pmml") match {
          case "bagging" =>
            ("bagging", graft.score.Score.exportJson(baggedModels))
          case "baggingpmml" =>
            ("baggingpmml", graft.score.Score.exportPmml(baggedModels))
          case "pmml" => ("pmml", opts.getOrElse("algo", "lr") match {
            case "lr" =>
              val t = graft.train.Train.logistic(r.normalized, feats, label)
              graft.score.Score.exportPmml(
                Seq(graft.train.Train.toLinear(t, feats)))
            case "nn" =>
              val t = graft.train.Train.nn(r.normalized, feats, label)
              graft.score.Pmml.exportNN(graft.train.Train.toMlp(t, feats))
            case "dt" =>
              val t = graft.train.Train.decisionTree(r.normalized, feats,
                label)
              graft.score.Pmml.exportTree(
                graft.train.Train.toTree(t, feats), feats)
            case "rf" =>
              // whole RF as ONE MiningModel/Segmentation document
              val t = graft.train.Train.randomForest(r.normalized, feats,
                label, numTrees = opts.getOrElse("trees", "10").toInt)
              graft.score.Pmml.exportEnsemble(graft.score.Pmml.fromRF(
                t.model.stages.last.asInstanceOf[
                  org.apache.spark.ml.classification.RandomForestClassificationModel],
                feats))
            case "gbt" =>
              val t = graft.train.Train.gbt(r.normalized, feats, label,
                maxIter = opts.getOrElse("trees", "10").toInt)
              graft.score.Pmml.exportEnsemble(graft.score.Pmml.fromGBT(
                t.model.stages.last.asInstanceOf[
                  org.apache.spark.ml.classification.GBTClassificationModel],
                feats))
            case other => throw new IllegalArgumentException(
              s"unknown export algo '$other' (lr|nn|dt|rf|gbt)")
          })
          case other => throw new IllegalArgumentException(
            s"unknown export type '$other' " +
              "(pmml|bagging|baggingpmml|columnstats|woemapping|corr)")
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(opts("out")), out)
        Seq(s"$kind: ${opts("out")} (${feats.length} predictors)")

      case "varsel" =>
        // `shifu varselect` (ShifuCLI.java:280-310): re-rank an EXISTING
        // catalog's stats and update finalSelect — no data scan at all
        val catalog0 = CatalogIO.read(opts("catalog"))
        val histPath = java.nio.file.Paths.get(
          opts("catalog") + ".varsel_history")
        // reference sub-modes: `varsel -list` / `varsel -reset` /
        // `varsel -recoverauto`
        if (opts.get("list").contains("true"))
          return Seq("selected: " +
            catalog0.filter(_.finalSelect).map(_.columnName).mkString(","))
        if (opts.get("reset").contains("true")) {
          CatalogIO.write(opts("catalog"),
            catalog0.map(_.copy(finalSelect = false)))
          return Seq("selected: (reset)")
        }
        if (opts.get("recover").contains("true")) {
          // `varsel -recoverauto` (VarSelectModelProcessor.java:283-293):
          // replay the history's VarSelDesc lines — wherever the current
          // status equals the recorded NEW status, restore the OLD one
          require(java.nio.file.Files.exists(histPath),
            s"no varsel history at $histPath to recover from")
          // replay ONLY the most recent varsel invocation — the reference
          // recoverauto undoes the LATEST pass, not the accumulated
          // multi-run history. Runs are delimited by '# run' marker
          // lines; a legacy file with no marker is one run. The consumed
          // block is truncated away after a successful recover, so
          // consecutive recovers pop runs stack-wise instead of replaying
          // stale flips from older runs twice.
          val all = java.nio.file.Files.readAllLines(histPath)
            .asScala.toVector
          val lastSep = all.lastIndexWhere(_.startsWith("# run"))
          val (remain, replay) = all.splitAt(math.max(lastSep, 0))
          // positional parse from both ends (id | name... | old | new |
          // reason) so a column NAME containing ',' still replays — the
          // name is everything between the first and last-3 fields
          val descs = replay.map(_.trim)
            .filter(l => l.nonEmpty && !l.startsWith("#"))
            .map(_.split(",", -1)).filter(_.length >= 5)
          require(descs.nonEmpty,
            s"no flips to recover in the latest run at $histPath")
          val recovered = descs.foldLeft(catalog0) { (cat, f) =>
            val name = f.slice(1, f.length - 3).mkString(",")
            val oldSel = f(f.length - 3).toBoolean
            val newSel = f(f.length - 2).toBoolean
            cat.map(p =>
              if (p.columnName == name && p.finalSelect == newSel)
                p.copy(finalSelect = oldSel)
              else p)
          }
          CatalogIO.write(opts("catalog"), recovered)
          java.nio.file.Files.write(histPath, remain.asJava)
          return Seq("selected: " +
            recovered.filter(_.finalSelect).map(_.columnName).mkString(","))
        }
        val catalog = opts.getOrElse("method", "ks") match {
          case "ks"     => Pipeline.varsel(catalog0, topN)
          case "iv"     => Pipeline.varselBy(catalog0, topN,
            _.stats.iv.getOrElse(0.0))
          case "pareto" => Pipeline.varselPareto(catalog0, topN)
          case "autofilter" =>
            // missing-rate + correlation-redundancy + KS-rank screens;
            // scans data once for the correlation matrix
            Pipeline.autoFilter(Pipeline.init(df, spec), catalog0, topN)
          case "itsa"   =>
            // iterative sensitivity (mask → drop-worst → refit) over the
            // candidate columns; the only method here that scans data.
            // ForceRemove columns are excluded BEFORE the loop (they must
            // not occupy keepN slots or waste refit rounds), ForceSelect
            // pins regardless of sensitivity — same contract as the other
            // methods
            val removed = catalog0.filter(
              _.flag.contains(graft.catalog.ColumnFlag.ForceRemove))
              .map(_.columnName).toSet
            val eligible = candidates.filterNot(removed)
            val kept = graft.train.Train.itsaVarsel(
              Pipeline.init(df, spec), eligible, Pipeline.isPos(spec),
              keepN = math.min(topN, eligible.length)).toSet
            val force = catalog0.filter(
              _.flag.contains(graft.catalog.ColumnFlag.ForceSelect))
              .map(_.columnName).toSet
            val keep = force ++ kept
            catalog0.map(p => p.copy(finalSelect = keep(p.columnName)))
          case other => throw new IllegalArgumentException(
            s"unknown varsel method '$other' (ks|iv|pareto|itsa|autofilter)")
        }
        // varsel history (reference VarSelDesc "id,name,old,new,REASON"
        // lines, VarSelectModelProcessor.java:145-148): every status flip
        // appends, so `varsel --recover` can replay it back
        val oldSel = catalog0.map(p => p.columnName -> p.finalSelect).toMap
        // REASON tags the varsel method that caused the flip (reference
        // VarSelReason enum names). Unlike the reference, BOTH directions
        // are recorded — re-selects too — so --recover can replay the
        // full history, not just auto-filter drops; for a false→true flip
        // the tag reads as "the method that re-ranked it in"
        val reason = opts.getOrElse("method", "ks") match {
          case "iv"         => "IV_TOO_LOW"
          case "autofilter" => "HIGH_CORRELATED"
          case _            => "KS_TOO_LOW"
        }
        val flips = catalog
          .filter(p => oldSel(p.columnName) != p.finalSelect)
          .map(p => s"${p.columnNum},${p.columnName}," +
            s"${oldSel(p.columnName)},${p.finalSelect},$reason")
        // '# run' delimits this invocation's block so --recover can undo
        // exactly one run (and truncate it) instead of the whole file
        if (flips.nonEmpty)
          java.nio.file.Files.writeString(histPath,
            flips.mkString("# run\n", "\n", "\n"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        CatalogIO.write(opts("catalog"), catalog)
        Seq("selected: " +
          catalog.filter(_.finalSelect).map(_.columnName).mkString(","))

      case "train" =>
        // `shifu train` (TrainModelProcessor): normalize with the frozen
        // catalog, fit the configured algorithm, report AUC; LR models
        // export to the literal JSON spec, others save as MLlib pipelines
        val catalog = CatalogIO.read(opts("catalog"))
        val clean = Pipeline.init(df, spec)
        val normed = Pipeline.norm(clean, spec, catalog, normType)
        val feats = normed.columns.filter(_.startsWith("n_")).toSeq
        val label = col("tag") === 1
        val algo = opts.getOrElse("algo", "lr")
        // ALGORITHM.TENSORFLOW (reference ModelTrainConf.java:574-587):
        // shell out to the user's trainer command (--cmd), score the
        // returned literal model for the AUC line — no MLlib fit at all
        if (algo == "tensorflow") {
          val models = graft.train.Train.externalTrainer(normed, feats,
            label, opts("cmd").split("\\s+").toSeq, opts("workdir"))
          val scored = normed.select(label.cast("long").as("pos"),
            (models.map(_.score).reduce(_ + _) / models.length).as("p"))
          val sweep = graft.eval.Eval.weightedSweep(scored, col("p"),
            col("pos") === 1, lit(1.0), Seq(monotonically_increasing_id()))
          val auc = graft.eval.Eval.rocAuc(sweep).head().getDouble(0)
          opts.get("out").foreach(o =>
            java.nio.file.Files.writeString(java.nio.file.Paths.get(o),
              graft.score.Score.exportJson(models)))
          return Seq(f"auc: $auc%.6f", s"algo: tensorflow",
            s"features: ${feats.length}")
        }
        val t = algo match {
          case "lr"  => graft.train.Train.logistic(normed, feats, label)
          case "nn"  => graft.train.Train.nn(normed, feats, label)
          case "svm" => graft.train.Train.svm(normed, feats, label)
          case "dt"  => graft.train.Train.decisionTree(normed, feats, label)
          case "rf"  => graft.train.Train.randomForest(normed, feats, label)
          case "gbt" => graft.train.Train.gbt(normed, feats, label)
          case other => throw new IllegalArgumentException(
            s"unknown algo '$other' (lr|nn|svm|dt|rf|gbt|tensorflow)")
        }
        opts.get("out").foreach { o =>
          if (algo == "lr")
            java.nio.file.Files.writeString(java.nio.file.Paths.get(o),
              graft.score.Score.exportJson(
                Seq(graft.train.Train.toLinear(t, feats))))
          else t.model.write.overwrite().save(o)
        }
        Seq(f"auc: ${t.auc}%.6f", s"algo: $algo",
          s"features: ${feats.length}")

      case "posttrain" =>
        // `shifu posttrain` (PostTrainModelProcessor): score the training
        // data with a fresh LR fit and write per-bin average scores back
        // into the catalog (binAvgScore, reference scoreScale=1000). ONE
        // scan: every selected column contributes a (col_name, bin_id)
        // struct, exploded and aggregated together — k structs per row,
        // never k passes over the data
        val catalog = CatalogIO.read(opts("catalog"))
        val clean = Pipeline.init(df, spec)
        val sel = catalog.filter(_.finalSelect)
        require(sel.nonEmpty, "posttrain needs a catalog with finalSelect " +
          "columns (run stats/varsel first)")
        val normExprs = sel.map(p => Normalize.forProfile(col(p.columnName),
          p, normType, spec.stdDevCutOff).as(s"n_${p.columnName}"))
        val feats = sel.map(p => s"n_${p.columnName}")
        val withN = clean.select(
          sel.map(p => col(p.columnName)) ++ normExprs :+
            Pipeline.isPos(spec).cast("int").as("tag"): _*)
        val t = graft.train.Train.logistic(withN, feats, col("tag") === 1)
        val lm = graft.train.Train.toLinear(t, feats)
        val binStructs = sel.map { p =>
          val binId =
            if (p.binning.binBoundary.nonEmpty)
              graft.ops.Binning.binIndex(col(p.columnName),
                p.binning.binBoundary)
            else {
              val cats = p.binning.binCategory
              val pos = array_position(array(cats.map(lit): _*),
                col(p.columnName).cast("string"))
              when(col(p.columnName).isNull || pos === 0, lit(cats.length))
                .otherwise((pos - 1).cast("int"))
            }
          struct(lit(p.columnName).as("col_name"), binId.as("bin_id"))
        }
        val avg = withN
          .withColumn("score", lm.score * 1000.0)
          .select(col("score"), explode(array(binStructs: _*)).as("cb"))
          .groupBy(col("cb.col_name").as("col_name"),
            col("cb.bin_id").as("bin_id"))
          .agg(org.apache.spark.sql.functions.avg("score").as("avg_score"))
          .collect()
          .groupBy(_.getString(0))
          .map { case (c, rows) =>
            c -> rows.map(r => r.getAs[Number](1).intValue() ->
              r.getDouble(2)).toMap
          }
        val updated = catalog.map { p =>
          avg.get(p.columnName) match {
            case Some(byBin) =>
              val n = p.binning.length + 1 // + missing bin
              p.copy(binning = p.binning.copy(binAvgScore =
                (0 until n).map(i => byBin.getOrElse(i, 0.0)).toVector))
            case None => p
          }
        }
        CatalogIO.write(opts("catalog"), updated)
        val calLine = opts.get("calibrate").map { _ =>
          // isotonic score→probability calibration as a posttrain
          // artifact: sidecar next to the catalog (same convention as
          // <catalog>.quantiles) so eval-side scoring can map raw model
          // scores to calibrated probabilities
          val scored = withN.withColumn("__score", lm.score)
          val m = graft.train.Calibrate.isotonicFit(
            scored, col("__score"), col("tag") === 1)
          val out = s"${opts("catalog")}.calibration"
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
            graft.train.Calibrate.serialize(m))
          s"calibration: ${m.boundaries.size} blocks -> $out"
        }
        Seq(s"binAvgScore updated: ${sel.size} columns",
          f"auc: ${t.auc}%.6f") ++ calLine

      case "encode" =>
        // `shifu encode` (ShifuCLI encode -run): fit a depth-limited tree
        // on the normalized features and emit each row's root-to-leaf PATH
        // as a categorical encoding — a narrow codegen'd projection once
        // the tree folds in as literals (Score.encodePath)
        val catalog = CatalogIO.read(opts("catalog"))
        val clean = Pipeline.init(df, spec)
        val normed = Pipeline.norm(clean, spec, catalog, normType)
        val feats = normed.columns.filter(_.startsWith("n_")).toSeq
        val t = graft.train.Train.decisionTree(normed, feats,
          col("tag") === 1, maxDepth = opts.getOrElse("depth", "4").toInt)
        val tree = graft.train.Train.toTree(t, feats)
        val encoded = normed.select(
          col("tag"),
          graft.score.Score.encodePath(tree).as("enc_path"),
          graft.score.Score.encodeLeaf(tree).as("enc_leaf"))
        opts.get("out").foreach(o =>
          encoded.write.mode("overwrite").parquet(o))
        val nPaths = encoded.select("enc_path").distinct().count()
        Seq(s"paths: $nPaths", f"auc: ${t.auc}%.6f") ++
          opts.get("out").map(o => s"encoded: $o")

      case "combo" =>
        // `shifu combo` (ComboModelProcessor): train every requested
        // algorithm on the same normalized data, assemble per-row mean
        // P(positive) (Train.comboScore), report member + assembled AUC
        val catalog = CatalogIO.read(opts("catalog"))
        val clean = Pipeline.init(df, spec)
        val normed = Pipeline.norm(clean, spec, catalog, normType)
        val feats = normed.columns.filter(_.startsWith("n_")).toSeq
        val label = col("tag") === 1
        val algos = opts.getOrElse("algos", "lr,dt").split(",").toSeq
        val members = algos.map {
          case "lr"  => graft.train.Train.logistic(normed, feats, label)
          case "dt"  => graft.train.Train.decisionTree(normed, feats, label)
          case "svm" => graft.train.Train.svm(normed, feats, label)
          case "rf"  => graft.train.Train.randomForest(normed, feats, label)
          case "gbt" => graft.train.Train.gbt(normed, feats, label)
          case "nn"  => graft.train.Train.nn(normed, feats, label)
          case other => throw new IllegalArgumentException(
            s"unknown combo algo '$other' (lr|dt|svm|rf|gbt|nn)")
        }
        val scored = graft.train.Train.comboScore(members, normed)
        val sweep = graft.eval.Eval.weightedSweep(scored, col("combo_mean"),
          col("tag") === 1, lit(1.0), Seq(monotonically_increasing_id()))
        val comboAuc = graft.eval.Eval.rocAuc(sweep).head().getDouble(0)
        opts.get("out").foreach(o =>
          scored.select((Seq("tag") ++ members.indices.map(i => s"combo_$i")
            :+ "combo_mean").map(col): _*)
            .write.mode("overwrite").parquet(o))
        algos.zip(members).map { case (a, m) =>
          f"member $a auc: ${m.auc}%.6f" } :+ f"combo auc: $comboAuc%.6f"

      case "test" =>
        // `shifu test -filter` (ShifuTestProcessor.java:33-45): dry-run
        // each filter expression over the first N records and report
        // per-expression match counts — ONE aggregation pass, no output
        // data flow to disturb
        val n = opts.getOrElse("n", "100").toInt
        // same --filtersep-aware split as the spec builder: the dry-run
        // must tokenize EXACTLY like the run it is previewing, or a
        // filter containing a literal ';' dry-runs as two broken
        // expressions and then runs as one working one
        val exprs = opts("filter")
          .split(java.util.regex.Pattern.quote(
            opts.getOrElse("filtersep", ";")))
          .map(_.trim).filter(_.nonEmpty)
        require(exprs.nonEmpty, "test needs --filter 'expr1;expr2;...'")
        val aggs = count(lit(1)).as("n_records") +:
          exprs.toSeq.zipWithIndex.map { case (e, i) =>
            coalesce(sum(graft.expr.Jexl.filter(e).cast("long")), lit(0L))
              .as(s"m_$i") }
        val row = df.limit(n).agg(aggs.head, aggs.tail: _*).head()
        val total = row.getLong(0)
        exprs.toSeq.zipWithIndex.map { case (e, i) =>
          s"filter[$i] '$e': ${row.getLong(i + 1)} of $total records matched"
        }

      case "inspect" =>
        // spec-level pre-flight (reference `core/validator/ModelInspector`
        // probe): gate the SPEC before any distributed step runs —
        // `validate` gates data, this gates config. Driver-only, no scan.
        //   graft.Cli inspect --spec ModelConfig.json [--data path]
        //     [--sets EvalSets.json] [--binmethod m] [--binalgo a]
        //     [--meta a,b] [--forceselect ...] [--forceremove ...]
        val specFile = opts.get("spec").map(graft.catalog.SpecIO.read)
          .getOrElse(spec) // flags can stand in for a file
        def list(flag: String): Seq[String] =
          opts.get(flag).map(_.split(",").toSeq).getOrElse(Nil)
        val r = graft.catalog.SpecInspector.probe(
          specFile,
          dataPath = opts.get("data"),
          binningMethod = opts.get("binmethod"),
          binningAlgorithm = opts.get("binalgo"),
          meta = list("meta"),
          forceSelect = list("forceselect"),
          forceRemove = list("forceremove"),
          evalSets = opts.get("sets")
            .map(graft.catalog.EvalSetIO.readOrEmpty))
        r.causes.map(c => s"cause: $c") :+
          (if (r.ok) "inspect: PASS"
           else s"inspect: FAIL (${r.causes.length} causes)")

      case "validate" =>
        // engine extension (no reference verb): the declarative
        // data-quality gate over any parquet table — ops.Validate, the
        // same report q_data_validation oracle-checks. Checks:
        //   --notnull c1,c2   --range col:lo:hi[,col:lo:hi...]
        //   --inset col:v1|v2 --unique c1[,c2]  --fk col:dimPath:dimKey
        //   [--minrate 0.95]  [--out report.json]
        import graft.ops.Validate._
        val minRate = opts.getOrElse("minrate", "1.0").toDouble
        val checks = Seq.newBuilder[Check]
        opts.get("notnull").foreach(_.split(",").foreach(c =>
          checks += NotNull(c, minRate)))
        opts.get("range").foreach(_.split(",").foreach { r =>
          val Array(c, lo, hi) = r.split(":")
          checks += InRange(c, lo.toDouble, hi.toDouble, minRate)
        })
        opts.get("inset").foreach { s0 =>
          val Array(c, vs) = s0.split(":", 2)
          checks += InSet(c, vs.split("\\|").toSeq, minRate)
        }
        opts.get("unique").foreach(u => checks += Unique(u.split(",").toSeq))
        opts.get("fk").foreach { f =>
          val Array(c, dimPath, dimKey) = f.split(":")
          checks += ForeignKey(c, spark.read.parquet(dimPath), dimKey)
        }
        val built = checks.result()
        require(built.nonEmpty,
          "validate needs at least one of --notnull/--range/--inset/" +
            "--unique/--fk")
        val rows = graft.ops.Validate.run(df, built).collect()
        opts.get("out").foreach { o =>
          val json = rows.map(r =>
            s"""{"check":"${r.getString(0)}","target":"${r.getString(1)}",""" +
              s""""metric_ppm":${r.getLong(2)},"ok":${r.getLong(3)}}""")
            .mkString("[\n", ",\n", "\n]\n")
          java.nio.file.Files.writeString(java.nio.file.Paths.get(o), json)
        }
        val nFail = rows.count(_.getLong(3) == 0L)
        rows.map(r => f"${r.getString(0)}%-12s ${r.getString(1)}: " +
          s"${r.getLong(2)} ppm ok=${r.getLong(3)}").toSeq :+
          (if (nFail == 0) s"validate: PASS (${rows.length} checks)"
           else s"validate: FAIL ($nFail of ${rows.length} checks)")

      case "warehouse" =>
        // engine extension (no reference verb): managed-table lifecycle
        // for the bucketed-join path. sources/Bucketed MUST write
        // saveAsTable managed tables (bucket metadata only survives via
        // the catalog), so repeated CLI runs accumulate warehouse state:
        // a fresh session starts with an empty in-memory catalog while
        // the previous run's table dirs persist on disk as ORPHANS that
        // both waste space and break the next writeBucketed with
        // LOCATION_ALREADY_EXISTS. Usage:
        //   graft.Cli warehouse                → report tables + orphans
        //   graft.Cli warehouse --drop t1,t2   → drop tables (entry+dir)
        //   graft.Cli warehouse --prune        → delete orphan dirs
        val warehouse = new java.io.File(
          spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
        def rmTree(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rmTree)
          f.delete(): Unit
        }
        def bucketSpecOf(t: String): String =
          spark.sql(s"DESCRIBE FORMATTED `$t`").collect()
            .collectFirst {
              case r if r.getString(0) == "Num Buckets" =>
                s"buckets=${r.getString(1).trim}"
            }.getOrElse("unbucketed")
        val tables = spark.catalog.listTables()
          .collect().filter(_.tableType == "MANAGED").map(_.name).sorted
        // orphan = a warehouse dir that is no table's LOCATION in ANY
        // database. The r10 definition ("not a managed table of the
        // current db") classified other databases' dirs (<db>.db) and
        // external-table locations under the warehouse as orphans —
        // `--prune` would destroy live data. Location paths come from
        // the catalog itself, so case mangling / custom locations
        // can't fool the match; `*.db` dirs are skipped outright.
        val ownedPaths: Set[String] = spark.catalog.listDatabases()
          .collect().flatMap { db =>
            spark.catalog.listTables(db.name).collect().flatMap { t =>
              scala.util.Try {
                val meta = spark.sessionState.catalog.getTableMetadata(
                  org.apache.spark.sql.catalyst.TableIdentifier(
                    t.name, Option(t.database)))
                new java.io.File(meta.location).getCanonicalPath
              }.toOption
            }
          }.toSet
        val orphans = Option(warehouse.listFiles()).getOrElse(Array.empty)
          .filter(_.isDirectory)
          .filterNot(_.getName.endsWith(".db")) // other databases' roots
          .filterNot(d => ownedPaths.contains(d.getCanonicalPath))
          .map(_.getName).sorted
        opts.get("drop") match {
          case Some(ts) =>
            ts.split(",").toSeq.map { t =>
              spark.sql(s"DROP TABLE IF EXISTS `$t`")
              // DROP removes the catalog entry and normally the files;
              // sweep the location too so a half-dropped dir can't
              // resurface as an orphan
              val loc = new java.io.File(warehouse, t.toLowerCase)
              if (loc.exists()) rmTree(loc)
              s"dropped: $t"
            }
          case None if opts.contains("prune") =>
            val pruned = orphans.map { d =>
              rmTree(new java.io.File(warehouse, d)); s"pruned: $d"
            }.toSeq
            pruned :+ s"warehouse: ${pruned.length} orphan dirs pruned"
          case None =>
            tables.toSeq.map(t => s"table: $t (${bucketSpecOf(t)})") ++
              orphans.toSeq.map(d => s"orphan: $d") :+
              s"warehouse: ${tables.length} managed tables, " +
              s"${orphans.length} orphan dirs"
        }

      case "gate" =>
        // engine extension (no reference verb): the streaming ingestion
        // dedup gate as a shell one-shot — drain everything currently
        // in the feed dir through dedupIngestStream, then report. With
        // --checkpoint, repeated invocations resume the SAME stream:
        // each run screens only newly-arrived files against the
        // persisted index (the incremental crawl-admission shape).
        //   graft.Cli gate --feed docs/ --index idx/ --out decisions/
        //     [--checkpoint c/] [--intra true] [--compactevery 16]
        val index = opts.getOrElse("index",
          throw new IllegalArgumentException("gate needs --index <dir>"))
        opts.get("retract") match {
          case Some(r) =>
            // takedown mode: tombstone that content's keys, scoped to
            // the sources that exist now — the first re-arrival is
            // re-admitted and re-indexed, later arrivals screen
            // against it; pre-retraction keys physically removed at
            // the next compaction
            graft.streaming.StreamOps.retractDocs(
              spark.read.parquet(r).select(col("doc_id").cast("long"),
                col("text")),
              index, opts.getOrElse("tag", "takedown"))
            Seq(s"gate: retracted content of $r from $index " +
              s"(tag=${opts.getOrElse("tag", "takedown")})")
          case None =>
            val feed = opts.getOrElse("feed",
              throw new IllegalArgumentException(
                "gate needs --feed <parquet dir with doc_id,text> " +
                  "or --retract"))
            val out = opts.getOrElse("out",
              throw new IllegalArgumentException("gate needs --out <dir>"))
            val stream = spark.readStream
              .schema(spark.read.parquet(feed).schema).parquet(feed)
              .select(col("doc_id").cast("long"), col("text"))
            val q = graft.streaming.StreamOps.dedupIngestStream(stream,
              index, out, opts.get("checkpoint"),
              opts.getOrElse("compactevery", "16").toInt,
              opts.get("intra").exists(_ != "false"))
            try q.processAllAvailable() finally q.stop()
            val d = spark.read.parquet(out)
            val total = d.count()
            val kept = d.filter(col("kept")).count()
            Seq(s"gate: $total decisions, $kept kept, " +
              s"${total - kept} rejected; index at $index")
        }

      case "annindex" =>
        // engine extension (no reference verb): the streaming ANN index
        // — ingest an embeddings feed, or query a persisted index.
        //   graft.Cli annindex --feed emb/ --index idx/ [--cells auto]
        //     [--checkpoint c/] [--compactevery 16] [--retrain true]
        //   graft.Cli annindex --index idx/ --query emb/ [--k 3]
        //     [--nprobe 1] [--out results/]
        val index = opts.getOrElse("index",
          throw new IllegalArgumentException("annindex needs --index <dir>"))
        // takedown mode (exclusive): --delete <parquet with vec_id>
        // tombstones those ids — immediate exclusion from every query;
        // compacted out, then swept
        opts.get("delete") match {
          case Some(del) =>
            val ids = spark.read.parquet(del).select(col("vec_id"))
            val n = ids.distinct().count()
            graft.streaming.AnnIngest.delete(spark, index, ids,
              opts.getOrElse("tag", "takedown"))
            return Seq(s"annindex: tombstoned $n ids in $index " +
              s"(tag=${opts.getOrElse("tag", "takedown")})")
          case None => ()
        }
        opts.get("feed") match {
          case Some(feed) =>
            val emb = spark.read.parquet(feed)
            val cells = opts.get("cells") match {
              case Some("auto") | None =>
                graft.streaming.AnnIngest.cellsFor(math.max(1L, emb.count()))
              case Some(c) => c.toInt
            }
            val stream = spark.readStream.schema(emb.schema).parquet(feed)
              .select(col("vec_id").cast("long"), col("embedding"))
            // --split <skew>: compactions whose recorded cell skew
            // exceeds the threshold self-heal with the split-cell
            // LOCAL retrain (movers only) instead of a full rebuild;
            // --fold <frac>: cells drained below <frac> x mean live
            // occupancy fold into their nearest survivors (the split's
            // inverse — bounds quantizer growth; at most one heal per
            // compaction, the fold defers to a same-cycle split)
            val q = graft.streaming.AnnIngest.annIngestStream(stream, index,
              opts.get("checkpoint"), cells,
              opts.getOrElse("compactevery", "16").toInt,
              opts.get("retrain").exists(_ != "false"),
              splitSkewAbove = opts.get("split").map(_.toDouble)
                .getOrElse(Double.PositiveInfinity),
              foldColdBelow = opts.get("fold").map(_.toDouble)
                .getOrElse(0.0))
            try q.processAllAvailable() finally q.stop()
            val n = graft.streaming.AnnIngest.readIndex(spark, index, None)
              .count()
            Seq(s"annindex: $n vectors live in $index (cells=$cells)")
          case None =>
            val queries = spark.read.parquet(opts.getOrElse("query",
              throw new IllegalArgumentException(
                "annindex needs --feed (ingest) or --query (search)")))
              .select(col("vec_id").cast("long"), col("embedding"))
            val res = graft.streaming.AnnIngest.queryTopK(spark, index,
              queries, opts.getOrElse("k", "3").toInt,
              opts.getOrElse("nprobe", "1").toInt)
            // count the WRITTEN parquet when an out dir is given — a
            // separate res.count() would re-run the whole probe join
            val n = opts.get("out") match {
              case Some(o) =>
                res.write.mode("overwrite").parquet(o)
                spark.read.parquet(o).count()
              case None => res.count()
            }
            Seq(s"annindex: $n neighbor rows" +
              opts.get("out").map(o => s" -> $o").getOrElse(""))
        }

      case other =>
        throw new IllegalArgumentException(
          s"unknown verb '$other' (run|stats|varsel|norm|train|posttrain|" +
            "encode|combo|eval|export|test|validate|inspect|warehouse|" +
            "gate|annindex)")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Cli <run|stats|norm|export> --data ...")
    val spark = graft.tools.Harness.session()
    try run(spark, args.head, parseArgs(args.tail)).foreach(println)
    finally spark.stop()
  }
}
