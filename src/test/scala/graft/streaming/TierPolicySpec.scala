package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IngestIndex.{AnnFamily, Manifest, Run, gateFamily,
  mergeSameClass}

/** The run-tiering and tombstone-ledger policy both streaming indexes
  * compact by (IngestIndex's `mergeSameClass`, `Family` and `Cycle`),
  * checked on manifests alone: no Spark session, no files. */
class TierPolicySpec extends AnyFunSuite {

  /** A `merge` writer that names the merged run after its inputs and
    * keeps `keep` of their summed rows, recording every call. */
  private class Merger(keep: Long => Long = identity) {
    var calls = Vector.empty[(String, String)]
    def apply(a: Run, b: Run): Run = {
      calls :+= (a.name -> b.name)
      Run(s"m(${a.name},${b.name})", keep(a.rows + b.rows))
    }
  }

  test("a fold landing in an occupied higher size class merges with it " +
    "although the bottom pair differs: [4, 40] + a 40-row fold") {
    val merger = new Merger()
    val (runs, merged) = mergeSameClass(
      Seq(Run("run_0_0", 4), Run("run_1_0", 40), Run("run_2_0", 40)))(
      merger(_, _))
    assert(runs === Seq(Run("m(run_1_0,run_2_0)", 80), Run("run_0_0", 4)))
    assert(merged === 80L)
    assert(merger.calls === Vector("run_1_0" -> "run_2_0"))
  }

  test("merges cascade through the classes the binary counter carries " +
    "into, and a run set with one run per class is left as it is") {
    val merger = new Merger()
    val (runs, merged) = mergeSameClass(
      Seq(Run("a", 16), Run("b", 8), Run("c", 4), Run("d", 4)))(merger(_, _))
    assert(runs.map(_.rows) === Seq(32L))
    assert(merged === 8L + 16L + 32L)
    val (same, none) = mergeSameClass(
      Seq(Run("a", 4), Run("b", 16), Run("c", 8)))(merger(_, _))
    assert(same.map(_.name) === Seq("b", "c", "a") && none === 0L)
  }

  test("a merge that comes out fully tombstoned drops to zero rows and " +
    "leaves the run set") {
    val merger = new Merger(_ => 0L)
    val (runs, merged) = mergeSameClass(
      Seq(Run("run_0_0", 40), Run("run_1_0", 5), Run("run_2_0", 6)))(
      merger(_, _))
    assert(runs === Seq(Run("run_0_0", 40)))
    assert(merged === 11L)
  }

  private val gate = gateFamily("hashes")

  test("a tombstone sweeps only when the previous manifest recorded it " +
    "and both its run set and the new one are clean of it") {
    val dirs = Seq("/i/tombs_hashes/t_a")
    // first application: recorded at this compaction's id, never swept
    val first = gate.open(Manifest(1, Map("hashes" ->
      Seq(Run("run_1_0_w1", 9)))), dirs, 2)
    assert(first.entries(Seq(Run("run_2_0_w1", 9))) === Map(
      "hashes" -> Seq(Run("run_2_0_w1", 9)),
      "tombs_hashes" -> Seq(Run("t_a", 2))))
    // recorded at 2: the previous run set still holds a run from 1
    val prev = Manifest(2, Map(
      "hashes" -> Seq(Run("run_2_0_w1", 9), Run("run_1_0_w1", 3)),
      "tombs_hashes" -> Seq(Run("t_a", 2))))
    assert(gate.open(prev, dirs, 3).entries(Seq(Run("run_3_0_w1", 12)))
      .apply("tombs_hashes") === Seq(Run("t_a", 2)))
    // clean previous run set, but the new one keeps the run from 1
    val cleanPrev = prev.copy(runs = prev.runs.updated("hashes",
      Seq(Run("run_2_0_w1", 9))))
    assert(gate.open(cleanPrev, dirs, 3)
      .entries(Seq(Run("run_2_0_w1", 9), Run("run_1_0_w1", 3)))
      .get("tswept_hashes").isEmpty)
    // both clean: logically swept
    val swept = gate.open(cleanPrev, dirs, 3)
      .entries(Seq(Run("run_3_0_w1", 10)))
    assert(swept.get("tombs_hashes").isEmpty)
    assert(swept("tswept_hashes").map(_.name) === Seq("t_a"))
  }

  test("tswept keeps the first-applied id, for both families") {
    for ((fam, dir) <- Seq(gate -> "/i/tombs_hashes/t_a",
                           AnnFamily -> "/i/tombs/t_a")) {
      val m = Manifest(5, Map(fam.runs -> Seq(Run("run_5_0", 9)),
        fam.tombs -> Seq(Run("t_a", 4))))
      val next = fam.open(m, Seq(dir), 6).entries(Seq(Run("run_6_0", 9)))
      assert(next(fam.tswept) === Seq(Run("t_a", 4)), fam)
    }
  }

  test("a swept dir is not live, and its record leaves the next manifest " +
    "while a tombstone added by the compaction itself is recorded") {
    val m = Manifest(7, Map("vectors" -> Seq(Run("run_7_0", 9)),
      "tswept" -> Seq(Run("t_a", 4)), "tombs" -> Seq(Run("t_b", 7))))
    val cycle = AnnFamily.open(m,
      Seq("/i/tombs/t_a", "/i/tombs/t_b", "/i/tombs/t_c"), 8)
    assert(cycle.live === Seq("/i/tombs/t_b", "/i/tombs/t_c"))
    val next = cycle.entries(Seq(Run("run_8_0", 9)),
      added = Seq(Run("t_split_8", 9)))
    assert(next === Map("vectors" -> Seq(Run("run_8_0", 9)),
      "tombs" -> Seq(Run("t_c", 8), Run("t_split_8", 9)),
      "tswept" -> Seq(Run("t_b", 7))))
  }

  test("dirs are superseded one generation late: deltas the previous " +
    "manifest folded, and runs neither manifest references") {
    val m = Manifest(3, Map("hashes" -> Seq(Run("run_3_0_w1", 4))))
    val gone = gate.open(m, Nil, 5).superseded(Seq(Run("run_5_0_w1", 8))) _
    assert(gone("batch=3") && !gone("batch=4") && !gone("batch=5"))
    assert(!gone("run_3_0_w1") && !gone("run_5_0_w1"))
    assert(gone("run_2_0_w1") && gone("run_5_1_w1") && gone("base_v1"))
    assert(!gone("_SUCCESS"))
  }

  test("an applied tag is refused for both families, under that family's " +
    "own ledger keys; a pending or fresh tag is accepted") {
    for (fam <- Seq(gate, gateFamily("bands"), AnnFamily)) {
      for (key <- Seq(fam.tombs, fam.tswept)) {
        val m = Manifest(2, Map(key -> Seq(Run("t_done", 1))))
        val ex = intercept[IllegalArgumentException](
          fam.requireNewTag(m, "done"))
        assert(ex.getMessage.contains("already applied"), fam)
        fam.requireNewTag(m, "fresh")
      }
      intercept[IllegalArgumentException](
        fam.requireNewTag(Manifest(-1, Map.empty), "bad/tag"))
    }
    // each family reads only its own keys: the gate's hashes ledger does
    // not refuse a tag only the bands or ANN ledger recorded
    gate.requireNewTag(Manifest(2, Map(
      "tombs_bands" -> Seq(Run("t_x", 1)), "tombs" -> Seq(Run("t_x", 1)))),
      "x")
  }
}
