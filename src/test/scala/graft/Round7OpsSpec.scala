package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-7 operators: real image decode, and the round's CLI/ops additions. */
class Round7OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("ImageOps decodes real PNGs: dims, per-pixel mean luma; corrupt " +
    "payloads become decode_ok=false rows; plan is a narrow map") {
    import spark.implicits._
    val solid = graft.media.ImageOps.syntheticPng(8, 5, 200)
    val grad = graft.media.ImageOps.gradientPng(8, 5)
    val bad = Array[Byte](1, 2, 3, 4)
    val df = Seq((1L, solid), (2L, grad), (3L, bad), (4L, Array.empty[Byte]))
      .toDF("doc_id", "payload")
    val out = graft.media.ImageOps.decodeImages(df)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"image decode must stay a narrow map (zero shuffles):\n$plan")
    val m = out.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(m(1L) === ((8L, 5L, 200.0, true)), "solid gray decodes exactly")
    // gradient pixel (x,y) = (x+y)%256; mean over 8x5 = ((8-1)+(5-1))/2
    assert(m(2L) === ((8L, 5L, 5.5, true)), "per-pixel luma math is real")
    assert(m(3L) === ((0L, 0L, 0.0, false)), "garbage bytes flagged, not fatal")
    assert(m(4L) === ((0L, 0L, 0.0, false)), "empty payload flagged, not fatal")
  }

  test("session-level spark.sql.graft.checkpointDir: engine-internal " +
    "lineage truncation (iterative CC, trainer fit-assembly) switches " +
    "to RELIABLE checkpoints into the configured dir — files appear " +
    "there — and the local default is unchanged when unset") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_conf").toString
    def fileCount(): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    spark.conf.set(graft.Ckpt.DirKey, dir)
    // iterative CC with NO explicit dir — the session conf decides;
    // small-graph cut disabled so the ROUND materializations (the
    // thing this test asserts) actually run
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
      val got = graft.text.TextOps.dedupClustersIterativeWith(pairs, 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)))
      assert(fileCount() > 0,
        "reliable checkpoint files must land in the configured dir")
      // a trainer's fit-assembly truncation rides the same conf
      val before = fileCount()
      val docs = (0 until 60).map(i =>
        (i.toLong, i % 2, i.toDouble, (i * 7 % 13).toDouble))
        .toDF("doc_id", "label", "f1", "f2")
      val scored = graft.text.QualityModel.trainScore(
        docs.selectExpr("doc_id",
          "case when label = 1 then repeat('spammy word ', 12) " +
            "else concat('clean prose number ', doc_id) end as text",
          "label"),
        label = org.apache.spark.sql.functions.col("label"))
      assert(scored.count() === 60L)
      assert(fileCount() > before,
        "the trainer's truncation must also checkpoint reliably")
    } finally spark.conf.unset(graft.Ckpt.DirKey)
    assert(graft.Ckpt.dir(spark).isEmpty,
      "unset conf -> local default (no reliable dir)")
  }

  test("Ckpt.truncate re-points the context when external code moved " +
    "the global checkpoint slot to a foreign dir between truncations") {
    import spark.implicits._
    val mine = java.nio.file.Files
      .createTempDirectory("graft_ckpt_mine").toString
    val foreign = java.nio.file.Files
      .createTempDirectory("graft_ckpt_foreign").toString
    def files(d: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    spark.conf.set(graft.Ckpt.DirKey, mine)
    try {
      graft.Ckpt.truncate(Seq(1, 2, 3).toDF("x")).count()
      val afterFirst = files(mine)
      assert(afterFirst > 0, "first truncate lands in the configured dir")
      // external code re-points the ONE global slot (same root cached)
      spark.sparkContext.setCheckpointDir(foreign)
      graft.Ckpt.truncate(Seq(4, 5, 6).toDF("x")).count()
      assert(files(mine) > afterFirst,
        "truncate must detect the foreign slot and re-set the " +
          "configured root instead of checkpointing into the foreign dir")
    } finally spark.conf.unset(graft.Ckpt.DirKey)
  }

  test("dedupClustersIterative with a reliable checkpoint dir: same " +
    "clusters, rounds materialized as files (the 100-TB path is a flag)") {
    import spark.implicits._
    // 12-node chain + an isolated 2-cycle: exercises multiple rounds
    val pairs = ((0L until 11L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    // distributed loop pinned (the small-graph cut would skip the
    // per-round reliable materializations this test asserts)
    val got = graft.text.TextOps
      .dedupClustersIterativeWith(pairs, 0, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = ((0L to 11L).map(_ -> 0L) ++
      Seq(100L -> 100L, 101L -> 100L)).toMap
    assert(got === expected)
    // the reliable branch actually wrote round snapshots to the dir
    def fileCount(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    assert(fileCount(java.nio.file.Paths.get(dir)) > 0,
      "checkpoint dir must contain materialized round files")
  }

  test("packSequencesSplit: over-budget docs split into maxSeqLen chunks, " +
    "zero-token docs keep one empty chunk, chunks respect the budget") {
    import spark.implicits._
    val docs = Seq((1L, 70L), (2L, 0L), (3L, 32L), (4L, 65L))
      .toDF("doc_id", "n_tokens")
    val out = graft.text.TextOps
      .packSequencesSplit(docs, org.apache.spark.sql.functions.col("n_tokens"),
        budget = 64, maxSeqLen = 32, numShards = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1: 70 tokens → chunks 32/32/6; doc 2: one 0-token chunk;
    // doc 3: exactly one 32-token chunk; doc 4: 65 → 32/32/1
    assert(out === Map(
      (1L, 0L) -> 32L, (1L, 1L) -> 32L, (1L, 2L) -> 6L,
      (2L, 0L) -> 0L,
      (3L, 0L) -> 32L,
      (4L, 0L) -> 32L, (4L, 1L) -> 32L, (4L, 2L) -> 1L))
  }

  test("aHash64 + imageNearDupPairs: identical images hash identically, " +
    "a lightly perturbed image pairs within the hamming budget, and an " +
    "unrelated image does not") {
    import spark.implicits._
    import graft.media.ImageOps
    // reference pattern, its exact copy, a near-copy (one pooled cell
    // nudged past the mean), and an unrelated inverted-gradient image
    val base = ImageOps.patternPng(7L)
    val near = ImageOps.pngOf(8, 8, (x, y) => {
      val v0 = ((7L * 31 + x * 7 + y * 13) % 256).toInt
      val v = if (x == 0 && y == 0) 255 else v0
      (v << 16) | (v << 8) | v
    })
    val far = ImageOps.pngOf(8, 8, (x, y) => {
      val v = 255 - ((x * 37 + y * 11) % 256)
      (v << 16) | (v << 8) | v
    })
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far),
      (5L, Array[Byte](9, 9, 9))).toDF("doc_id", "payload")
    val hashes = ImageOps.aHash64(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(hashes(1L) === hashes(2L), "identical payloads hash identically")
    assert(hashes(5L) === ((0L, false)), "garbage payload flagged")
    val pairs = ImageOps.imageNearDupPairs(df, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact duplicates pair at hamming 0")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "one perturbed cell stays within the hamming budget")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated image must not pair")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L),
      "undecodable payload must not pair")
  }

  test("Quantize int8: codes bounded, zero-shuffle coding plan, " +
    "dequantized reconstruction within half a bucket per dimension") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dims = 8
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(dims)(d =>
        (math.sin(i * 3.7 + d) * (d + 1)).toFloat))
    }.toDF("vec_id", "embedding")
    val (lo, hi) = graft.sim.Quantize.ranges(emb, dims)
    assert(lo.zip(hi).forall { case (l, h) => l <= h })
    val q = graft.sim.Quantize.quantizeInt8(emb, lo, hi)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"coding must be a zero-shuffle narrow map:\n$plan")
    val codes = q.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.values.forall(_.forall(c => c >= 0 && c <= 255)))
    // reconstruction: |v - dequant(code)| <= (hi-lo)/512 + float-cast slop
    val err = emb.join(q, "vec_id")
      .select(zip_with(
        graft.sim.Quantize.dequantExpr(col("codes"), lo, hi),
        col("embedding"),
        (d, v) => abs(d - v.cast("double"))).as("e"))
      .select(array_max(col("e")).as("m"))
      .agg(max("m")).head().getDouble(0)
    val worstBucket = lo.zip(hi).map { case (l, h) => (h - l) / 512.0 }.max
    assert(err <= worstBucket + 1e-9,
      s"reconstruction error $err exceeds half-bucket bound $worstBucket")
  }

  test("GBT PMML is standard-consumable: modelChain + final logit " +
    "regression segment yields P(1) with NO private link contract") {
    import graft.score.Pmml
    import spark.implicits._
    val t1 = Pmml.RSplit("f", 0.5, Pmml.RLeaf(-0.3), Pmml.RLeaf(0.7))
    val t2 = Pmml.RLeaf(0.2)
    val e = Pmml.Ensemble(Seq("f"), Vector(t1, t2),
      Vector(1.0, 0.25), "sum")
    val xml = Pmml.exportEnsemble(e)
    assert(xml.contains("multipleModelMethod=\"modelChain\""))
    assert(xml.contains("normalizationMethod=\"logit\""))
    assert(!xml.contains("<Extension"),
      "the logistic link must be standard PMML, not a Header Extension")
    // what a STANDARD consumer computes: margins from the tree segments,
    // then plain logit over Σ coefficient·margin from the final segment
    val coefs = "coefficient=\"([^\"]+)\"".r
      .findAllMatchIn(xml).map(_.group(1).toDouble).toVector
    assert(coefs === Vector(2.0, 0.5), "coefficients are 2·w_i")
    val margins = Vector(0.7, 0.2) // trees evaluated at f = 1.0
    val standardP =
      1.0 / (1.0 + math.exp(-coefs.zip(margins).map(p => p._1 * p._2).sum))
    val graftP = Seq(1.0).toDF("f").select(e.score.as("p"))
      .head().getDouble(0)
    assert(math.abs(standardP - graftP) < 1e-15,
      s"standard logit $standardP != graft scoring $graftP")
    // bit-exact round trip through the standard representation
    assert(Pmml.importEnsemble(xml) === e)
  }

  test("winnow: the winnowing guarantee — a shared run of >= w+k-1 " +
    "tokens always yields a shared fingerprint; density ~2/(w+1); " +
    "plan is a narrow map") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def junk(n: Int) = Seq.fill(n)("w" + rnd.nextInt(100000)).mkString(" ")
    // docs 0/1 share a 7-token run (= w+k-1 at k=4,w=4) inside junk
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (0L, junk(30) + " " + shared + " " + junk(30)),
      (1L, junk(30) + " " + shared + " " + junk(30)),
      (2L, junk(60))).toDF("doc_id", "text")
    val fp = graft.text.TextOps.winnow(docs, k = 4, w = 4)
    assert(!fp.queryExecution.executedPlan.toString.contains("Exchange"),
      "winnowing is row-local until the explode")
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert((byDoc(0L) & byDoc(1L)).nonEmpty,
      "shared >= w+k-1 run must surface a common fingerprint")
    assert((byDoc(0L) & byDoc(2L)).isEmpty, "junk docs share nothing")
    // density: |fps| << |grams| (guarantee bound is ~2/(w+1) of 64-1+1)
    assert(byDoc(2L).size < 40, s"60-token junk doc kept ${byDoc(2L).size}")
  }

  test("canonicalUrl edge cases: default vs custom ports, fragments, " +
    "utm runs, bare host, path case preserved; plan is a narrow map") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cases = Seq(
      ("HTTP://Host.COM:80/A/b#frag", "http://host.com/A/b"),
      ("https://h.com:8443/x", "https://h.com:8443/x"),
      ("http://h.com:8080/", "http://h.com:8080/"),
      ("https://H.com", "https://h.com/"),
      ("https://h.com/p?utm_a=1&utm_b=2&id=3", "https://h.com/p?id=3"),
      ("https://h.com/p?id=3&utm_a=1", "https://h.com/p?id=3"),
      ("https://h.com/p?utm_a=1", "https://h.com/p"),
      ("https://h.com/p/", "https://h.com/p"))
    val df = cases.map(_._1).toDF("url")
      .select(graft.text.TextOps.canonicalUrl(col("url")).as("c"))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(df.collect().map(_.getString(0)).toSeq === cases.map(_._2),
      "every rewrite rule fires exactly as specified")
  }

  test("QualityModel: hashing-trick features are fixed-dim and the " +
    "linear classifier separates a marker-token corpus (AUC > 0.9)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val fill = Seq("alpha", "beta", "gamma", "delta", "eps")
    def doc(marker: Boolean) = {
      val words = Seq.fill(12)(fill(rnd.nextInt(fill.size))) ++
        (if (marker) Seq("goodtoken", "goodtoken") else Seq("badtoken"))
      rnd.shuffle(words).mkString(" ")
    }
    val docs = (0 until 200).map(i => (i.toLong, doc(i % 2 == 0)))
      .toDF("doc_id", "text")
    val feats = graft.text.QualityModel.hashedNgramFeatures(docs, 512)
    assert(feats.agg(max("bucket")).head().getLong(0) < 512L)
    assert(feats.agg(min("bucket")).head().getLong(0) >= 0L)
    val scored = graft.text.QualityModel.trainScore(docs,
      (col("doc_id") % 2 === 0).cast("int"), numBuckets = 512)
    val auc = graft.text.QualityModel.aucOf(scored)
    assert(auc > 0.9, s"marker corpus must separate, got AUC $auc")
  }

  test("binarize/hammingTopK: multi-word packing (dims > 64) is exact — " +
    "hamming equals the sign-disagreement count; codes plan is narrow") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dims = 100
    val rows = (0L until 30L).map(i =>
      (i, Array.fill(dims)((rnd.nextDouble() - 0.5).toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val codes = graft.sim.Quantize.binarize(emb, dims)
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"binarize must be narrow:\n$plan")
    assert(codes.head().getSeq[Long](1).length === 2, "100 dims -> 2 words")
    // reference hamming from the raw signs
    val signs = rows.map { case (id, e) => id -> e.map(_ >= 0) }.toMap
    def refDist(a: Long, b: Long): Long =
      signs(a).zip(signs(b)).count { case (x, y) => x != y }.toLong
    val got = graft.sim.Quantize.hammingTopK(emb, dims, k = 3).collect()
    assert(got.length === 30 * 3)
    got.foreach { r =>
      assert(r.getLong(3) === refDist(r.getLong(0), r.getLong(2)),
        s"packed-word hamming must equal sign disagreements: $r") }
    // rank 1 is the true argmin with nb_id tie-break
    val top1 = got.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    (0L until 30L).foreach { id =>
      val best = (0L until 30L).filter(_ != id)
        .map(nb => (refDist(id, nb), nb)).min
      assert(top1(id) === ((best._2, best._1)), s"vec $id top-1") }
  }

  test("SemDedup.prune: planted duplicate groups keep exactly their " +
    "min id; singletons survive; cells bound the pair work") {
    import spark.implicits._
    // two exact-dup triples + 20 spread singletons in 4-dim space
    def v(x: Double, y: Double) = Array(x, y, 1.0, 0.5).map(_.toFloat)
    val rows =
      Seq(0L, 1L, 2L).map(i => (i, v(10, 10))) ++
      Seq(10L, 11L, 12L).map(i => (i, v(-10, 4))) ++
      (20 until 40).map(i => (i.toLong, v(math.cos(i) * 5, math.sin(i) * 5)))
    val emb = rows.toDF("vec_id", "embedding")
    val pruned = graft.sim.SemDedup.prune(emb, threshold = 0.999,
        nCells0 = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pruned.keySet === Set(1L, 2L, 11L, 12L),
      s"exactly the non-min dup members are pruned: $pruned")
    assert(pruned(1L) === 0L && pruned(2L) === 0L)
    assert(pruned(11L) === 10L && pruned(12L) === 10L)
  }

  test("mixtureTemperature: alpha=1 is the natural mixture (weights 1); " +
    "alpha<1 upweights the tail and downweights the head") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (Seq.fill(90)("srcBig") ++ Seq.fill(10)("srcSmall"))
      .zipWithIndex.map { case (s, i) => (i.toLong, "a b c d", s) }
      .toDF("doc_id", "text", "source")
    def weights(alpha: Double) = graft.text.TextOps
      .mixtureTemperature(docs, size(split(col("text"), " ")).cast("long"),
        alpha)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    val natural = weights(1.0)
    assert(natural.values.forall(w => math.abs(w - 1.0) < 1e-9),
      s"alpha=1 must keep the natural mixture: $natural")
    val flat = weights(0.5)
    assert(flat("srcSmall") > 1.0 && flat("srcBig") < 1.0,
      s"alpha=0.5 must upweight the tail: $flat")
  }

  test("BloomDedup: every inserted key flags (no false negatives), fresh " +
    "keys stay near the nominal fpp, probe plan is a narrow map") {
    import spark.implicits._
    val seen = (0L until 5000L).map(i => s"key_$i").toDF("fp")
    val bf = graft.text.BloomDedup.build(seen, "fp",
      expectedItems = 5000, fpp = 0.01)
    (0L until 5000L).foreach { i =>
      assert(bf.mightContainString(s"key_$i"), s"member key_$i must flag") }
    val fresh = (0 until 10000).count(i => bf.mightContainString(s"new_$i"))
    assert(fresh < 500, s"fresh-key fp rate ${fresh / 10000.0} >= 5x nominal")
    // probe side: broadcast bitset, zero shuffles
    val incoming = (0L until 100L).map(i => s"key_$i").toDF("fp")
    val probed = incoming.withColumn("maybe_seen",
      graft.text.BloomDedup.probe(incoming, bf, $"fp"))
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"probe must be narrow:\n$plan")
    assert(probed.collect().forall(_.getBoolean(1)))
  }

  test("bm25: tf monotone, rare terms outweigh common ones at equal tf, " +
    "absent terms contribute zero; scoring plan is a narrow map") {
    import spark.implicits._
    val docs = Seq(
      (0L, "rare w w w"), (1L, "rare rare w w"),
      (2L, "common w w w"), (3L, "common w common w"),
      (4L, "common x y z")).toDF("doc_id", "text")
    // 'rare' in 2 docs, 'common' in 3 → idf(rare) > idf(common)
    val got = graft.text.TextOps.bm25(docs, Seq("rare", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) > got(0L), "higher tf scores higher (same dl)")
    assert(got(0L) > got(2L),
      "equal tf/dl: the rarer term carries more idf weight")
    val none = graft.text.TextOps.bm25(docs, Seq("absent"))
      .collect().map(_.getDouble(2))
    assert(none.forall(_ === 0.0), "absent term scores exactly zero")
    // after the one stats row is collected, scoring must not shuffle
    val plan = graft.text.TextOps.bm25(docs, Seq("rare"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bm25 scoring must be a narrow map:\n$plan")
  }

  test("bigramLogprob: generous cap matches the exact path; tight cap " +
    "scores OOV transitions at the interpolated floor; capped plan has " +
    "no global-sort window") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat ran"),
      (2L, "a dog sat on a log"),
      (3L, "one")).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    val exact = asMap(graft.text.TextOps.bigramLogprob(docs, vocabCap = None))
    val wide = asMap(
      graft.text.TextOps.bigramLogprob(docs, vocabCap = Some(1 << 20)))
    assert(exact === wide, "a cap larger than the vocab changes nothing")
    assert(!exact.contains(3L), "a 1-token doc has no transitions")
    assert(exact(0L)._2 === 5L, "6 tokens -> 5 transitions")
    // tight cap: still total, every doc scored, scores can only drop
    // (mass moves from seen-bigram to floor terms)
    val tight = asMap(
      graft.text.TextOps.bigramLogprob(docs, vocabCap = Some(2)))
    assert(tight.keySet === exact.keySet)
    tight.foreach { case (id, (lp, n)) =>
      assert(n === exact(id)._2)
      assert(lp <= exact(id)._1 + 1e-9, s"doc $id: capped $lp > exact") }
    // the cap must plan as a bounded TakeOrdered, never a global window
    val plan = graft.text.TextOps.bigramLogprob(docs, vocabCap = Some(2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"cap should be a bounded top-k:\n$plan")
    assert(!plan.contains("Window"), s"no window in the capped plan:\n$plan")
  }

  test("segmentDedup: keep-first is the global (doc_id, seg_idx) minimum; " +
    "docs reassemble in order; fully-duplicated docs survive as empty rows") {
    import spark.implicits._
    // segLen=2 segments: doc0=[a b][c d], doc1=[a b][x y], doc2=[c d][a b]
    val docs = Seq(
      (0L, "a b c d"), (1L, "a b x y"), (2L, "c d a b"))
      .toDF("doc_id", "text")
    val got = graft.text.TextOps.segmentDedup(docs, segLen = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) === ((2L, 2L, "a b c d")), "first doc keeps everything")
    assert(got(1L) === ((2L, 1L, "x y")), "'a b' already seen in doc 0")
    assert(got(2L) === ((2L, 0L, "")),
      "both segments seen earlier; the row survives with empty text")
    // single groupBy per pass: a hot segment is one group row, never a
    // pair explosion — assert no cartesian/join-on-text in the plan
    val plan = graft.text.TextOps.segmentDedup(docs, segLen = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"no pair expansion:\n$plan")
    // perDoc scope: cross-doc repeats survive, intra-doc repeats drop
    val perDoc = graft.text.TextOps
      .segmentDedup(Seq((0L, "a b a b c d"), (1L, "a b x y"))
        .toDF("doc_id", "text"), segLen = 2, perDoc = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(perDoc(0L) === ((2L, "a b c d")),
      "doc 0 drops only its own repeat of 'a b'")
    assert(perDoc(1L) === ((2L, "a b x y")),
      "doc 1 keeps 'a b' — cross-doc repeats are out of scope")
  }

  test("Dsir.importanceWeights: docs resembling the target domain score " +
    "above docs that don't; the log-ratio table is broadcast") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // target slice speaks 'alpha beta'; off-domain speaks 'omega psi'
    val docs = ((0L until 10L).map(i => (i, "alpha beta alpha beta", "tgt")) ++
      (10L until 20L).map(i => (i, "omega psi omega psi", "other")) ++
      Seq((20L, "alpha beta gamma", "other"),   // target-like, unlabeled
        (21L, "omega psi chi", "other")))       // raw-like
      .toDF("doc_id", "text", "source")
    // 64 buckets so add-one smoothing doesn't swamp the tiny corpus counts
    val w = graft.text.Dsir.importanceWeights(docs, col("source") === "tgt",
      numBuckets = 64)
    val m = w.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(20L) > m(21L),
      s"target-like doc must outweigh raw-like: ${m(20L)} vs ${m(21L)}")
    assert(m(0L) > 0 && m(10L) < m(0L),
      "target exemplars score high, off-domain low")
    val plan = w.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastHashJoin"),
      s"lambda table must broadcast, never shuffle the gram stream:\n$plan")
  }

  test("TextOps.codeSignals: real code trips the 2-of-3 vote, prose does " +
    "not; ppm arithmetic exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "val maxRetry = retryCount + 1 ; if (maxRetry > limitValue) { resetAll() ; }"),
      (2L, "the committee met on tuesday to discuss the annual budget report in detail"))
      .toDF("doc_id", "text")
    val r = graft.text.TextOps.codeSignals(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getBoolean(4), s"code doc must vote code-like: ${r(1L)}")
    assert(!r(2L).getBoolean(4), s"prose doc must not: ${r(2L)}")
    assert(r(2L).getLong(1) == 0 && r(2L).getLong(2) == 0,
      "prose has zero code punctuation and operators")
  }

  test("TextOps.kneserNeyLogprob: continuation counts beat raw frequency " +
    "— a many-context word outscores a frequent single-context word") {
    import spark.implicits._
    // 'francisco' is FREQUENT but follows only 'san'; 'the' follows many
    // distinct contexts. With equal bigram evidence from context 'q', KN
    // must prefer 'q the' (high continuation count) over 'q francisco'.
    val docs = ((0L until 5L).map(i => (i, "san francisco")) ++
      Seq((10L, "a the"), (11L, "b the"), (12L, "c the"), (13L, "d the"),
        (20L, "q the"), (21L, "q francisco")))
      .toDF("doc_id", "text")
    val r = graft.text.TextOps.kneserNeyLogprob(docs)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(20L) > r(21L),
      s"KN continuation backoff must favor the many-context word: " +
        s"q-the=${r(20L)} vs q-francisco=${r(21L)}")
    assert(r(0L) > r(20L), "a seen frequent bigram still scores highest")
  }

  test("TextOps.incrementalDedup: exact copies and near-dups of prior " +
    "docs are rejected; genuinely new docs admitted") {
    import spark.implicits._
    val prior = Seq(
      (1L, "the quick brown fox jumps over the lazy dog entirely"),
      (2L, "an established document about spark physical planning"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog entirely"), // exact
      (11L, "the quick brown fox jumps over the lazy dog today"),    // near
      (12L, "completely fresh content with no prior overlap at all"))
      .toDF("doc_id", "text")
    val r = graft.text.TextOps.incrementalDedup(batch, prior)
      .collect().map(x => x.getLong(0) ->
        ((x.getBoolean(1), x.getBoolean(2), x.getBoolean(3)))).toMap
    assert(r(10L) == ((true, true, false)), s"exact copy rejected: ${r(10L)}")
    assert(!r(11L)._1 && r(11L)._2 && !r(11L)._3,
      s"near-dup (shared minhash band) rejected: ${r(11L)}")
    assert(r(12L) == ((false, false, true)), s"fresh doc admitted: ${r(12L)}")
  }

  test("ShardSink: deterministic shards + manifest; re-export reproduces " +
    "the manifest byte-for-byte; round-trip verifies; one file per shard") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"doc $i body tok${i % 9}"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val m1 = graft.sources.ShardSink.writeShards(docs, dir,
      numShards = 8).collect()
    assert(m1.map(_.getLong(1)).sum == 200L, "every doc lands in a shard")
    assert(m1.length <= 8 && m1.map(_.getLong(0)).distinct.length ==
      m1.length)
    val (_, ok) = graft.sources.ShardSink.verifyShards(spark, dir)
    assert(ok, "re-read shards must reproduce the stored manifest")
    // determinism: second export, same manifest
    val dir2 = java.nio.file.Files.createTempDirectory("shards2").toString
    val m2 = graft.sources.ShardSink.writeShards(
      docs.repartition(7), dir2, numShards = 8).collect()
    assert(m1.map(_.toString).toSeq == m2.map(_.toString).toSeq,
      "shard membership/fingerprints independent of input partitioning")
    // one data file per shard dir
    val d0 = new java.io.File(s"$dir/shard=0")
    assert(d0.exists && d0.listFiles().count(_.getName.endsWith(".gz")) == 1,
      "exactly one compressed part per shard")
  }

  test("Pca: covariance matches direct math; whitened projection has " +
    "identity sample covariance; explained variance is a decreasing " +
    "ratio vector") {
    import spark.implicits._
    // rank-2 4-dim data: two latent factors, deterministic
    val data = (0 until 120).map { t =>
      val u = (t % 10) / 10.0 - 0.45
      val v = (t % 7) / 7.0 - 0.43
      (t.toLong, Array[Float]((u + v).toFloat, (u - v).toFloat,
        (2 * u).toFloat, (0.1 * v).toFloat))
    }.toDF("vec_id", "embedding")
    // covariance vs direct driver math
    val cov = graft.sim.Pca.covariance(data, dims = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val raw = data.collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
    val n = raw.length.toDouble
    val mean = (0 until 4).map(i => raw.map(_(i)).sum / n)
    def direct(i: Int, j: Int) =
      raw.map(x => (x(i) - mean(i)) * (x(j) - mean(j))).sum / (n - 1)
    for (i <- 0 until 4; j <- i until 4)
      assert(math.abs(cov((i.toLong, j.toLong)) - direct(i, j)) < 1e-5,
        s"cov($i,$j)")
    // whitened projection
    val (proj, ev) = graft.sim.Pca.fitWhiten(data, k = 2)
    assert(ev.length == 2 && ev(0) >= ev(1) && ev(1) > 0 && ev.sum <= 1.001,
      s"explained variance ratios: ${ev.toSeq}")
    assert(ev.sum > 0.999, "rank-2 data: 2 components explain everything")
    val p = proj.collect().map(_.getSeq[Double](1).toArray)
    val pm = (0 until 2).map(i => p.map(_(i)).sum / n)
    def pcov(i: Int, j: Int) =
      p.map(x => (x(i) - pm(i)) * (x(j) - pm(j))).sum / (n - 1)
    assert(math.abs(pcov(0, 0) - 1.0) < 1e-6 &&
      math.abs(pcov(1, 1) - 1.0) < 1e-6 && math.abs(pcov(0, 1)) < 1e-6,
      s"whitened covariance must be I: ${pcov(0, 0)} ${pcov(1, 1)} ${pcov(0, 1)}")
  }

  test("TextOps.groupedSplit: every group lands wholly in ONE split; " +
    "weights map to the right bucket cuts; custom 2-way split works") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, s"t$i", s"dom${i % 30}"))
      .toDF("doc_id", "text", "source")
    val r = graft.text.TextOps.groupedSplit(docs, col("source"))
    val perGroup = r.groupBy("grp")
      .agg(countDistinct("split").as("k")).collect()
    assert(perGroup.forall(_.getLong(1) == 1L),
      "a group must never straddle splits")
    val splits = r.select("split").distinct().collect()
      .map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits("train"))
    val two = graft.text.TextOps.groupedSplit(docs, col("source"),
      Seq(0.5, 0.5), Seq("a", "b"))
    val m = two.select("bucket", "split").distinct().collect()
    assert(m.forall(x =>
      x.getString(1) == (if (x.getLong(0) < 5000) "a" else "b")),
      "2-way cut at bucket 5000")
  }

  test("round-7 op plans: span scrub joins hash-partitioned (no nested " +
    "loop, no window); gopher repetition explodes the gram stream ONCE") {
    import spark.implicits._
    val docs = (0L until 50L)
      .map(i => (i, s"tok${i % 7} a b c d e f g h tok${i % 5}"))
      .toDF("doc_id", "text")
    val scrub = graft.text.TextOps.scrubDupSpans(docs, k = 8)
    scrub.collect()
    val sp = scrub.queryExecution.executedPlan.toString
    assert(!sp.contains("NestedLoopJoin") && !sp.contains("CartesianProduct"),
      s"span scrub must never pair-explode via nested loops:\n$sp")
    assert(!sp.contains("Window"),
      "span scrub coverage is row-local, not a window")
    val rep = graft.text.TextOps.gopherRepetition(docs)
    rep.collect()
    // AQE's toString echoes the pre-execution plan too — count only the
    // final executed tree
    val rp = rep.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val generates = "(?m)^.*Generate\\b".r.findAllIn(rp).size
    assert(generates == 1,
      s"all 9 gram widths must ride ONE explode, found $generates:\n$rp")
    assert(!rp.contains("Window"), "per-doc tops are aggs, not windows")
  }

  test("TextOps.gopherRepetition: planted repetition drives the right " +
    "signal; clean doc scores 0 on dup coverage") {
    import spark.implicits._
    // doc 1: "ab cd" appears 3×/5 bigrams; tokens 10, chars 20
    // doc 2: a repeated 5-gram covers everything; doc 3: no repeats
    val fiver = "q w e r t"
    val docs = Seq(
      (1L, "ab cd ab cd ab cd xx yy zz ww"),
      (2L, s"$fiver $fiver"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
      .toDF("doc_id", "text")
    val r = graft.text.TextOps.gopherRepetition(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    val d1 = r(1L)
    // top 2-gram "ab cd": cnt 3 × 4 chars = 12 of 20
    assert(d1.getDouble(1) == 0.6, s"top2 ${d1.getDouble(1)}")
    val d2 = r(2L)
    // "q w e r t" twice: dup 5-gram coverage = all 10 chars
    assert(d2.getDouble(4) == 1.0, s"dup5 ${d2.getDouble(4)}")
    val d3 = r(3L)
    assert((4 to 9).forall(d3.getDouble(_) == 0.0),
      "clean doc has zero dup coverage at every width")
  }

  test("TextOps.scrubDupSpans removes cross-doc repeated k-spans from all " +
    "but the first doc; full dupes scrub to empty; uniques untouched") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"intro $span outro"),          // first occurrence — keeps span
      (2L, s"other lead $span tail bits"), // later copy — span removed
      (3L, "totally unrelated text here"), // unique — untouched
      (4L, s"intro $span outro"))          // exact dup of 1 — fully scrubbed
      .toDF("doc_id", "text")
    val r = graft.text.TextOps.scrubDupSpans(docs, k = 8)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((10L, 0L, s"intro $span outro")),
      "first occurrence keeps the span")
    assert(r(2L) == ((12L, 8L, "other lead tail bits")),
      s"doc 2 loses exactly the shared 8-token span: ${r(2L)}")
    assert(r(3L) == ((4L, 0L, "totally unrelated text here")),
      "unique doc untouched")
    assert(r(4L) == ((10L, 10L, "")),
      s"exact duplicate of doc 1 is fully covered -> empty: ${r(4L)}")
  }

  test("BloomDedup build/probe agree for NON-string keys: a long keyCol " +
    "is cast to string on BOTH sides, so every previously-seen key " +
    "probes true (the unfixed putLong/mightContainString mismatch made " +
    "EVERY probe a false negative)") {
    val seen = spark.range(100).toDF("k") // LongType key
    val flagged = graft.text.BloomDedup.flagSeen(seen, seen, "k")
    assert(flagged.filter(!org.apache.spark.sql.functions
      .col("maybe_seen")).count() === 0L,
      "zero false negatives is the screen's contract")
  }

  test("dedupKeepBest honors FRACTIONAL quality scores: 0.97 beats 0.12 " +
    "(the long cast truncated both to 0 and min-doc_id won)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq((1L, 0.12), (2L, 0.97)).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val m = graft.text.TextOps.dedupKeepBest(docs, pairs, col("q"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(m(2L) && !m(1L), "the higher fractional score must win")
  }

  test("TextOps.dedupKeepBest keeps the best-scoring member per cluster " +
    "(min id on ties), singletons keep themselves, plan has no Window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq((1L, "short"), (2L, "the longest text"), (3L, "medium"),
      (4L, "solo"), (5L, "equal"), (6L, "equal"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val r = graft.text.TextOps.dedupKeepBest(docs, pairs,
      length(col("text")))
    val m = r.collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2)))).toMap
    assert(Seq(1L, 2L, 3L).forall(m(_)._1 == 1L), "chain collapses to min id")
    assert(m(2L)._2 && !m(1L)._2 && !m(3L)._2, "longest member wins")
    assert(m(5L) == ((5L, true)) && m(6L) == ((5L, false)),
      "equal scores break to the lower doc_id")
    assert(m(4L) == ((4L, true)), "singleton keeps itself")
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"best-per-cluster must be a partial agg, not a per-cluster sort:\n$plan")
  }

  test("AudioOps decodes real WAVs: rate/frames/duration/mean-amplitude; " +
    "corrupt payloads become decode_ok=false rows; plan is a narrow map") {
    import spark.implicits._
    val wav = graft.media.AudioOps.syntheticWav(8000,
      Array[Short](0, 100, -100, 32767, -32768, 50))
    val df = Seq((1L, wav), (2L, Array[Byte](1, 2, 3)),
      (3L, Array.empty[Byte])).toDF("doc_id", "payload")
    val out = graft.media.AudioOps.decodeAudio(df)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "audio decode must stay a narrow map")
    val m = out.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getBoolean(6)))).toMap
    val amp = (0L + 100 + 100 + 32767 + 32768 + 50) / 6.0
    assert(m(1L) === ((8000L, 1L, 6L, 6.0 / 8000, amp, true)),
      "PCM16 round-trips bit-exactly through javax.sound")
    assert(m(2L)._6 === false, "garbage bytes flagged, not fatal")
    assert(m(3L)._6 === false, "empty payload flagged, not fatal")
  }

  test("domainTopK: equals the row_number window on a skewed domain mix, " +
    "but plans as a partial-aggregating groupBy (no Window operator)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one head domain with 50 docs, two tails with 2 — the partial top-k
    // must cut the head on the map side
    val docs = ((0L until 50L).map(i => (i, "head", (i % 7).toDouble)) ++
      Seq((100L, "tail_a", 3.0), (101L, "tail_a", 9.0),
        (200L, "tail_b", 1.0), (201L, "tail_b", 1.0)))
      .toDF("doc_id", "domain", "s")
    val got = graft.text.TextOps
      .domainTopK(docs, col("domain"), col("s"), k = 3)
    val w = Window.partitionBy("domain").orderBy(col("s").desc, col("doc_id"))
    val want = docs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("domain"), col("rank"), col("doc_id"), col("s").as("score"))
    assert(got.collect().toSet === want.collect().toSet)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"per-domain cap must never plan a window sort:\n$plan")
  }

  test("encodingQuality: corrupt chars counted, verdict thresholded, " +
    "plan is a narrow map") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "clean text here"),
      (2L, "bad \uFFFD\uFFFD decode"),
      (3L, "ctl text"),
      (4L, "tabs\tand\nnewlines ok")).toDF("doc_id", "text")
    val out = graft.text.TextOps.encodingQuality(docs, maxBadRatio = 0.1)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "encoding triage must stay narrow")
    val m = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(5)))).toMap
    assert(m(1L) === ((0L, 0L, true)))
    assert(m(2L) === ((2L, 0L, false)), "2 replacement chars in 16 > 10%")
    assert(m(3L) === ((0L, 3L, false)), "C0 controls counted")
    assert(m(4L) === ((0L, 0L, true)), "tab/newline are NOT junk controls")
  }

  test("pplBuckets: thirds are labeled monotonically — every head doc " +
    "scores >= every middle >= every tail; capped path keeps the order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (0L until 30L).map { i =>
      // monotonically more of the common token → 30 DISTINCT doc scores,
      // so both tercile cuts are interior and every bucket is non-empty
      (i, ("the " * (i + 1).toInt) + s"rare$i")
    }.toDF("doc_id", "text")
    def ranges(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("bucket")
      .agg(min("avg_logprob").as("lo"), max("avg_logprob").as("hi"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val r = ranges(graft.text.TextOps.pplBuckets(docs, vocabCap = None,
      accuracy = Int.MaxValue))
    assert(r("head")._1 >= r("middle")._2,
      s"head floor must meet middle ceiling: $r")
    assert(r("middle")._1 >= r("tail")._2,
      s"middle floor must meet tail ceiling: $r")
    // production knobs (capped vocab, approximate quantile) keep the
    // monotone bucket structure; a bucket may be EMPTY when a quantile
    // cut lands on the distribution's edge, so order only what exists
    val rc = ranges(graft.text.TextOps.pplBuckets(docs,
      vocabCap = Some(16), accuracy = 100))
    val order = Seq("tail", "middle", "head").filter(rc.contains)
    order.sliding(2).foreach {
      case Seq(loB, hiB) =>
        assert(rc(hiB)._1 >= rc(loB)._2,
          s"$hiB floor must meet $loB ceiling: $rc")
      case _ =>
    }
  }

  test("snapshotDiff: four statuses from content-hash full outer join") {
    import spark.implicits._
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val next = Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("doc_id", "text")
    val got = graft.text.TextOps.snapshotDiff(prev, next)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "deleted", 4L -> "added"))
  }

  test("selectTopMass: kept set is the maximal suffix of bins within " +
    "budget — total tokens <= budget, next bin would overflow") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (0L until 100L)
      .map(i => (i, (i % 10) / 10.0 + 0.05, 10L))
      .toDF("doc_id", "sc", "tk")
    val kept = graft.text.TextOps
      .selectTopMass(docs, col("sc"), col("tk"), budget = 250, nBins = 10)
    val total = kept.agg(sum("n_tokens")).head().getLong(0)
    assert(total <= 250, s"budget respected, got $total")
    // bins 8,9 = 200 tokens fit; bin 7 would push to 300 > 250
    assert(total === 200)
    val minBin = kept.agg(min("bin")).head().getInt(0)
    assert(minBin === 8)
  }

  test("zipfStats: planted distribution gives exact counts and the " +
    "expected slope; head cut is a bounded top-k, not a vocab sort") {
    val s = spark
    import s.implicits._
    // exact power law c(r) = 64 / r for ranks 1..8 → slope −1, plus 10
    // hapax tokens; weave the tokens into docs
    val headCounts = (1 to 8).map(r => s"w$r" -> (64 / r))
    val words = headCounts.flatMap { case (w, c) => Seq.fill(c)(w) } ++
      (1 to 10).map(i => s"rare$i")
    val docs = words.grouped(12).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val df = graft.text.TextOps.zipfStats(docs, topK = 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"head cut must be a distributed bounded top-k:\n$plan")
    val r = df.head()
    assert(r.getAs[Long]("vocab_size") === 18)
    assert(r.getAs[Long]("total_tokens") ===
      headCounts.map(_._2).sum.toLong + 10)
    assert(r.getAs[Long]("hapax_count") === 10) // rare* only; c(8)=8
    // top-8 head excludes exactly the 10 hapaxes
    assert(r.getAs[Double]("top_mass") ===
      BigDecimal(headCounts.map(_._2).sum.toDouble /
        (headCounts.map(_._2).sum + 10))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // 64/r isn't exactly representable for r∈{3,5,6,7} (integer div), so
    // the fitted slope is near −1, not exact
    val slope = r.getAs[Double]("zipf_slope")
    assert(slope > -1.08 && slope < -0.92, s"slope was $slope")
  }
}
