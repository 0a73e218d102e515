package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.{Histogram, MunroPatSketch}
import graft.ops.StatsMath

/** Property-based invariants over the sketch/stats kernels (ScalaCheck
  * generators driven from fixed seeds — deterministic, no scalatestplus
  * bridge needed). */
class PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).toSeq)

  private val doubleList: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6))

  test("histogram boundaries are sorted and bracket the data") {
    samples(doubleList, 60).foreach { xs =>
      val h = Histogram(5)
      xs.foreach(h.add(_))
      val b = h.quantileBoundaries(5)
      assert(b.head.isNegInfinity)
      assert(b.sameElements(b.sorted))
      b.drop(1).foreach { x =>
        assert(x >= xs.min - 1e-9 && x <= xs.max + 1e-9)
      }
    }
  }

  test("histogram total weight equals number of points") {
    samples(doubleList, 60).foreach { xs =>
      val h = Histogram(8)
      xs.foreach(h.add(_))
      assert(math.abs(h.totalWeight - xs.length) < 1e-6)
    }
  }

  test("munropat quantiles are sorted and within range") {
    samples(doubleList, 60).foreach { xs =>
      val s = MunroPatSketch(6)
      xs.foreach(s.add)
      val qs = s.quantiles()
      assert(qs.sameElements(qs.sorted))
      qs.foreach(q => assert(q >= xs.min && q <= xs.max))
    }
  }

  test("KS is within [0, 100] and IV non-negative on arbitrary bin counts") {
    val binCounts = for {
      n <- Gen.choose(2, 12)
      neg <- Gen.listOfN(n, Gen.choose(0L, 10000L))
      pos <- Gen.listOfN(n, Gen.choose(0L, 10000L))
    } yield (neg.map(_.toDouble), pos.map(_.toDouble))
    samples(binCounts, 100).foreach { case (neg, pos) =>
      StatsMath.columnMetrics(neg, pos).foreach { m =>
        assert(m.ks >= 0.0 && m.ks <= 100.0 + 1e-9)
        assert(m.iv >= -1e-9) // iv = Σ(p−n)(ln(p+ε)−ln(n+ε)) ≥ 0 termwise
        assert(m.binWoe.length === neg.length)
      }
    }
  }

  test("PSI is non-negative for probability vectors") {
    val probVec = for {
      n <- Gen.choose(2, 10)
      a <- Gen.listOfN(n, Gen.choose(1e-6, 1.0))
      b <- Gen.listOfN(n, Gen.choose(1e-6, 1.0))
    } yield (a.map(_ / a.sum), b.map(_ / b.sum))
    samples(probVec, 100).foreach { case (a, e) =>
      assert(StatsMath.psi(a, e) >= -1e-12)
    }
  }

  test("TopKAgg equals sort-based top-k on random grouped data") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rowsGen = Gen.nonEmptyListOf(for {
      g <- Gen.choose(0L, 5L)
      s <- Gen.oneOf(Gen.choose(-10.0, 10.0), Gen.oneOf(1.0, 2.0)) // dups → ties
      id <- Gen.choose(0L, 30L)
    } yield (g, s, id))
    samples(rowsGen, 6).foreach { rows =>
      val df = rows.toDF("g", "s", "id").repartition(5)
      val got = df.groupBy("g")
        .agg(graft.agg.TopKAgg.topK(3)(col("s"), col("id")).as("nn"))
        .select(col("g"), posexplode(col("nn")).as(Seq("p", "nb")))
        .select(col("g"), col("p"), col("nb._1"), col("nb._2"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val want = rows.groupBy(_._1).flatMap { case (g, xs) =>
        xs.map(x => (x._2, x._3))
          .sortBy { case (s, id) => (-s, id) }
          .take(3).zipWithIndex
          .map { case ((s, id), i) => (g, i, s, id) }
      }.toSet
      assert(got === want)
    }
  }

  test("weightedEqualBounds equals brute-force cumulative thresholds") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(for {
      v <- Gen.choose(0, 20)
      w <- Gen.choose(1, 9)
    } yield (v.toDouble, w))
    samples(gen, 5).foreach { rows =>
      val k = 4
      val got = graft.ops.Binning.weightedEqualBounds(
        rows.toDF("v", "w").repartition(3), "v", col("w"), k)
      // brute force: distinct values ascending, running weight, min v per j
      val byV = rows.groupBy(_._1).view.mapValues(_.map(_._2.toLong).sum)
        .toSeq.sortBy(_._1)
      val tot = byV.map(_._2).sum
      val want = (1 until k).flatMap { j =>
        var cum = 0L
        byV.collectFirst {
          case (v, w) if { cum += w; cum * k >= j * tot } => (j, v)
        }
      }
      assert(got === want, s"rows=$rows")
    }
  }

  test("dedupClusters: labels are component minima on random sparse graphs") {
    val spark = TestSpark.spark
    import spark.implicits._
    // NOTE rounds stays small: the unrolled plan references the previous
    // round twice (union + join), so the plan TREE doubles per round —
    // rounds=6 covers diameter ≤ 6, ample for 20-node random graphs here
    // and far beyond clique-like dup clusters (see dedupClusters docs)
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 14L)))
    samples(edgeGen, 2).foreach { raw =>
      val edges = raw.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      if (edges.nonEmpty) {
        val got = graft.text.TextOps
          .dedupClusters(edges.toDF("doc_a", "doc_b"), rounds = 6)
          .as[(Long, Long)].collect().toMap
        // reference CC by union-find on the driver
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        got.foreach { case (d, label) =>
          assert(label === find(d), s"doc $d in $edges")
        }
      }
    }
  }

  /** Iterative CC with the small-graph cut DISABLED, so the test
    * exercises the DISTRIBUTED hook+jump loop (the cut would otherwise
    * take every test-sized graph down the driver union-find path). */
  private def distributedCc(pairs: org.apache.spark.sql.DataFrame,
      maxRounds: Int = 40) =
    graft.text.TextOps.dedupClustersIterativeWith(pairs, 0, maxRounds)

  test("dedupClustersIterative: exact on a 10-node chain (diameter 9)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a duplicate CHAIN a~b~c~… — the shape the fixed-round unrolled CC
    // cannot close (3 rounds only reach distance 3); the iterative variant
    // must converge to one cluster labeled by the minimum id
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = distributedCc(chain).as[(Long, Long)].collect().toMap
    assert(got.keySet === (1L to 10L).toSet)
    assert(got.values.toSet === Set(1L), s"chain split into $got")
    // and document WHY the iterative variant exists: the bounded version
    // genuinely splits this chain
    val bounded = graft.text.TextOps.dedupClusters(chain, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(bounded.values.toSet.size > 1,
      "bounded 3-round CC unexpectedly closed a diameter-9 chain")
  }

  test("dedupClustersIterative: 120-node chain converges in the round " +
    "budget (pointer jumping, not plain propagation)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // diameter 119 >> maxRounds: plain neighbor-min propagation would
    // silently return split clusters; hook+jump closes it in O(log d)
    val chain = (1L until 120L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = distributedCc(chain, maxRounds = 15)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet === (1L to 120L).toSet)
    assert(got.values.toSet === Set(1L), s"chain split: ${got.values.toSet}")
  }

  test("dedupClustersIterative matches union-find on random sparse graphs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val edgeGen = Gen.listOfN(15,
      Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
    samples(edgeGen, 2).foreach { raw =>
      val edges = raw.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      if (edges.nonEmpty) {
        val got = distributedCc(edges.toDF("doc_a", "doc_b"))
          .as[(Long, Long)].collect().toMap
        // and the SMALL-GRAPH CUT (driver union-find, default conf)
        // returns the identical labeling
        val gotLocal = graft.text.TextOps
          .dedupClustersIterative(edges.toDF("doc_a", "doc_b"))
          .as[(Long, Long)].collect().toMap
        assert(gotLocal === got, s"small-graph cut diverged on $edges")
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        got.foreach { case (d, label) =>
          assert(label === find(d), s"doc $d in $edges")
        }
      }
    }
  }

  test("jaccard df cap: capped pair set is a subset of the uncapped set") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      (i.toLong, s"w${i % 5} common words here tail$i x${i % 3} y${i % 7}")
    }.toDF("doc_id", "text")
    def pairsAt(cap: Int) = graft.text.TextOps
      .jaccardPairs(docs, 0.05, dfCap = cap)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val uncapped = pairsAt(1000000)
    Seq(3, 8, 20).foreach { cap =>
      val capped = pairsAt(cap)
      assert(capped.subsetOf(uncapped), s"cap=$cap added pairs")
    }
  }

  test("simhash bucket cap: capped pair set is a subset of the uncapped set") {
    val spark = TestSpark.spark
    import spark.implicits._
    // clusters of near-identical docs → many same-band buckets of varying
    // size; the cap may only ever REMOVE candidate pairs
    val docs = (0 until 30).map { i =>
      (i.toLong, s"shared prose body common to the cluster v${i % 4} t${i % 9}")
    }.toDF("doc_id", "text")
    def pairsAt(cap: Int) = graft.text.TextOps
      .simhashPairs(docs, maxHamming = 6, maxBucket = cap)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val uncapped = pairsAt(1000000)
    Seq(2, 5, 15).foreach { cap =>
      val capped = pairsAt(cap)
      assert(capped.subsetOf(uncapped), s"cap=$cap added pairs")
    }
  }

  test("simhash 64-bit: hamming distance is symmetric-difference sensitive") {
    val spark = TestSpark.spark
    import spark.implicits._
    // identical docs → hamming 0; near-identical → small; disjoint → large
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val sig = graft.text.TextOps.simhash(docs)
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) === sig(2L), "identical docs must fingerprint identically")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sig(a) ^ sig(b))
    assert(ham(1L, 3L) < ham(1L, 4L),
      s"near-dup hamming ${ham(1L, 3L)} should be < disjoint ${ham(1L, 4L)}")
  }

  test("jexl filter matches native Column filter for arbitrary thresholds") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = (1 to 50).map(i => (i, i * 2.0)).toDF("id", "v")
    d.cache(); d.count()
    samples(Gen.choose(0.0, 120.0), 8).foreach { t =>
      val viaJexl = d.filter(graft.expr.Jexl.filter(s"v > $t")).count()
      val direct = d.filter(org.apache.spark.sql.functions.col("v") > t).count()
      assert(viaJexl === direct, s"threshold $t")
    }
    d.unpersist()
  }

  // ---- round-8 kernels -----------------------------------------------------

  test("Bpe: encode always reconstructs the word exactly, and every " +
    "fused symbol is derivable (well-formed merge tables on random corpora)") {
    val word: Gen[String] =
      Gen.choose(1, 10).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val corpus: Gen[List[(String, Long)]] =
      Gen.nonEmptyListOf(word.flatMap(w =>
        Gen.choose(1L, 50L).map(w -> _))).map(_.distinctBy(_._1))
    samples(corpus, 40).foreach { freqs =>
      val merges = graft.text.Bpe.train(freqs, numMerges = 12)
      // well-formed: each side is a char or an earlier fusion
      val known = scala.collection.mutable.HashSet.empty[String]
      merges.foreach { case (l, r) =>
        assert(l.length == 1 || known.contains(l), s"left $l underivable")
        assert(r.length == 1 || known.contains(r), s"right $r underivable")
        known += (l + r)
      }
      val rank = merges.zipWithIndex.toMap
      freqs.map(_._1).foreach { w =>
        val enc = graft.text.Bpe.encode(w, rank)
        assert(enc.mkString === w, "lossless: tokens concatenate to the word")
        assert(enc.nonEmpty && enc.length <= w.length)
      }
    }
  }

  test("slidingChunks: chunks tile every token with stride overlap " +
    "(random doc lengths, windows, strides)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases: Gen[(Int, Int)] = for {
      w <- Gen.choose(1, 64)
      s <- Gen.choose(1, w)
    } yield (w, s)
    val lens = samples(Gen.choose(0L, 500L), 60).toVector
    val df = lens.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("doc_id", "n")
    samples(cases, 8).foreach { case (w, s) =>
      val chunks = graft.text.Retrieval.slidingChunks(df, col("n"), w, s)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      lens.zipWithIndex.foreach { case (n, i) =>
        val cs = chunks(i.toLong).sortBy(_._2)
        // chunk 0 starts at 0; consecutive starts advance by exactly s;
        // last chunk ends at n; every chunk spans at most w tokens
        assert(cs.head._3 == 0L)
        assert(cs.last._4 == math.max(n, 0L) || (n == 0 && cs.last._4 == 0L))
        assert(cs.forall(c => c._4 - c._3 <= w))
        cs.sliding(2).foreach {
          case Array(a, b) => assert(b._3 - a._3 == s)
          case _ => ()
        }
        // full coverage: union of [start, end) is [0, n)
        if (n > 0) {
          assert(cs.sliding(2).forall {
            case Array(a, b) => b._3 <= a._4
            case _ => true
          }, "no gap between consecutive chunks")
        }
      }
    }
  }
}
