package graft.stats

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

class NeighborMatchSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("hypergeometric tail: exact small cases") {
    // N=4, K=2 draws... P(X>=1) with n=2,k=2,N=4: 1 - C(2,0)C(2,2)/C(4,2)
    // = 1 - 1/6
    val p = NeighborMatch.hypergeomUpperTail(1, 2, 2, 4)
    assert(math.abs(p - (1.0 - 1.0 / 6.0)) < 1e-12)
    // P(X>=2) = C(2,2)C(2,0)/C(4,2) = 1/6
    val p2 = NeighborMatch.hypergeomUpperTail(2, 2, 2, 4)
    assert(math.abs(p2 - 1.0 / 6.0) < 1e-12)
    assert(NeighborMatch.hypergeomUpperTail(0, 2, 2, 4) == 1.0)
  }

  test("mad scaling: distributed path bit-equals driver Stat0.madScale") {
    import spark.implicits._
    // odd and even n exercise both median conventions; the distributed
    // path (two Breaks.medianExact passes per variable + a projection —
    // the value matrix never reaches the driver) must reproduce
    // Stat0.madScale bit-for-bit (lisa.h:139-159 'mad' semantics)
    val rnd = new scala.util.Random(17)
    for (n <- Seq(101, 500)) {
      val nv = 3
      val rows = (0 until n).map(i =>
        (i.toLong, Seq.fill(nv)(rnd.nextDouble() * 100 - 50)))
      val got = NeighborMatch.scaleVals(rows.toDF("gid", "vals"), nv, "mad")
        .as[(Long, Seq[Double])].collect().toMap
      val mat = Array.tabulate(nv, n)((v, i) => rows(i)._2(v))
      val want = mat.map(graft.core.Stat0.madScale)
      rows.indices.foreach { i =>
        val g = got(i.toLong)
        (0 until nv).foreach { v =>
          assert(g(v) == want(v)(i), s"n=$n gid=$i var=$v")
        }
      }
    }
    // constant variable: mad == 0 → deviations only (madScale contract)
    val const = (0 until 20).map(i => (i.toLong, Seq(7.0)))
    val gotC = NeighborMatch.scaleVals(const.toDF("gid", "vals"), 1, "mad")
      .as[(Long, Seq[Double])].collect()
    assert(gotC.forall(_._2 == Seq(0.0)))
    // null elements fail LOUDLY (nulls would silently shift the ranked
    // medians; the driver path this replaced threw on them too)
    val withNull = Seq((1L, Seq[java.lang.Double](1.0, 2.0)),
      (2L, Seq[java.lang.Double](null, 3.0)))
      .toDF("gid", "vals")
    val e = intercept[Exception] {
      NeighborMatch.scaleVals(withNull, 2, "mad").collect()
    }
    assert(e.getMessage.contains("null element"), e.getMessage)
    // empty input → empty output (not a throw), matching the old path
    val empty = Seq.empty[(Long, Seq[Double])].toDF("gid", "vals")
    assert(NeighborMatch.scaleVals(empty, 2, "mad").count() == 0)
  }

  test("neighbor match: identical attribute = coordinates → full overlap") {
    import spark.implicits._
    val pts = (1 to 30).map { i =>
      (i.toLong, (i * 193 % 97) * 0.5, (i * 499 % 89) * 0.5)
    }.toDF("gid", "x", "y")
    // attributes ARE the coordinates → attribute kNN == spatial kNN
    val vals = (1 to 30).map { i =>
      (i.toLong, Seq((i * 193 % 97) * 0.5, (i * 499 % 89) * 0.5))
    }.toDF("gid", "vals")
    val r = NeighborMatch.run(pts, vals, k = 4, scaleMethod = "raw")
      .as[(Long, Double, Double)].collect()
    assert(r.length == 30)
    r.foreach { case (g, card, p) =>
      assert(card == 4.0, s"gid $g card $card")
      assert(p < 0.01, s"gid $g p $p") // full overlap is highly significant
    }
  }

  test("neighbor match: unrelated attributes → low overlap on average") {
    import spark.implicits._
    val pts = (1 to 60).map { i =>
      (i.toLong, (i * 193 % 97) * 0.5, (i * 499 % 89) * 0.5)
    }.toDF("gid", "x", "y")
    val vals = (1 to 60).map { i =>
      (i.toLong, Seq((i * 37 % 101).toDouble, (i * 53 % 97).toDouble))
    }.toDF("gid", "vals")
    val r = NeighborMatch.run(pts, vals, k = 4)
      .as[(Long, Double, Double)].collect()
    val meanCard = r.map(_._2).sum / r.length
    // expected overlap under independence ≈ k*k/(N-1) = 16/59 ≈ 0.27
    assert(meanCard < 1.5, s"mean overlap $meanCard")
  }

  /** Driver-side exact kNN for golden comparison. */
  private def bruteAttrKnn(rows: Seq[(Long, Seq[Double])], k: Int,
                           manhattan: Boolean): Set[(Long, Long)] = {
    def d(a: Seq[Double], b: Seq[Double]): Double = {
      val t = a.iterator.zip(b.iterator).map { case (x, y) =>
        if (manhattan) math.abs(x - y) else (x - y) * (x - y) }.sum
      if (manhattan) t else math.sqrt(t)
    }
    rows.flatMap { case (g, v) =>
      rows.filter(_._1 != g)
        .map { case (g2, v2) => (d(v, v2), g2) }
        .sorted.take(k).map { case (_, g2) => (g, g2) }
    }.toSet
  }

  test("attribute kNN: 2-dim cell-ring equals driver brute at 4k rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 4000
    val vals = (1 to n).map { i =>
      (i.toLong, Seq((i * 7919 % 10007).toDouble, (i * 104729 % 9973).toDouble))
    }.toDF("gid", "vals")
    val scaled = NeighborMatch.scaleVals(vals, 2, "standardize").cache()
    val fast = NeighborMatch.attrKnn(scaled, 2, 6, "euclidean")
      .select("gid", "anbr").as[(Long, Long)].collect().toSet
    val local = scaled.select("gid", "sv").as[(Long, Seq[Double])].collect().toSeq
    val brute = bruteAttrKnn(local, 6, manhattan = false)
    assert(fast == brute,
      s"cell-ring vs brute diff: ${(fast diff brute).take(5)} / ${(brute diff fast).take(5)}")
    // NOTE deliberately no plan-shape assertion here: attrKnn returns a
    // checkpointed frame (scoped cache release), so its executed plan is
    // a scan of the materialized blocks and can never show an internal
    // Cartesian — the exact-equality against brute force above (and at
    // 10k rows in the high-dim test) is the effective
    // no-quadratic-blowup guard for this path.
    scaled.unpersist()
  }

  test("attribute kNN: 3-dim euclidean + 2-dim manhattan cell-ring exact at 10k rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 10000
    val spread = (1 to n).map { i =>
      (i.toLong, Seq((i * 7919 % 10007).toDouble,
        (i * 104729 % 9973).toDouble, (i * 31 % 89).toDouble))
    }.toDF("gid", "vals")
    // flat: a constant second dim makes the density cell ~1e-5 wide while
    // every pair differs by ≥ 1/sd ≈ 0.085 in the first scaled dim, so no
    // home has a candidate inside its ±64-cell block: all certify only
    // in the broadcast finish after r = 64 (asserted below)
    val flat = (1 to 40).map { i =>
      (i.toLong, Seq(i.toDouble, 7.0, (i * 31 % 89).toDouble))
    }.toDF("gid", "vals")
    for (vals <- Seq(spread, flat)) {
      val scaled = NeighborMatch.scaleVals(vals, 3, "standardize").cache()
      val local = scaled.select("gid", "sv").as[(Long, Seq[Double])].collect().toSeq

      val got3 = NeighborMatch.attrKnn(scaled, 3, 6, "euclidean")
        .select("gid", "anbr").as[(Long, Long)].collect().toSet
      val want3 = bruteAttrKnn(local, 6, manhattan = false)
      assert(got3 == want3,
        s"3-dim diff: ${(got3 diff want3).take(5)} / ${(want3 diff got3).take(5)}")

      val scaled2 = NeighborMatch.scaleVals(
        vals.select($"gid", slice($"vals", 1, 2).as("vals")), 2, "standardize")
        .cache()
      val local2 = scaled2.select("gid", "sv").as[(Long, Seq[Double])].collect().toSeq
      val gotM = NeighborMatch.attrKnn(scaled2, 2, 6, "manhattan")
        .select("gid", "anbr").as[(Long, Long)].collect().toSet
      val wantM = bruteAttrKnn(local2, 6, manhattan = true)
      assert(gotM == wantM,
        s"manhattan diff: ${(gotM diff wantM).take(5)} / ${(wantM diff gotM).take(5)}")

      if (vals eq flat) {
        val s = graft.core.Tiling.densityEdge(scaled, 6, $"sv"(0), $"sv"(1))
        val gap = local.map(_._2.head).sorted.sliding(2).map(p => p(1) - p(0)).min
        assert(65 * s < gap, s"cell $s gap $gap")
      }
      // no plan assertion (checkpointed output — see the 2-dim test note);
      // exactness vs brute force at 10k rows is the guard
      scaled.unpersist(); scaled2.unpersist()
    }
  }
}
