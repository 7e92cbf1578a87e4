package graft

import graft.analytics.{CompareAssets, Dtw}

/** The X3 façade on in-test series: both DTW dispatch arms agree to the
  * bit, the degenerate pairs return the all-zero result, and every
  * metric equals a plain-Scala recomputation of the reference's rules
  * (align on dates where both prices are non-null and > 0, log returns
  * over the aligned positions). */
class CompareAssetsSpec extends SparkSpec {
  import spark.implicits._

  // A: 300 dated prices, one null and one non-positive price;
  // B: a different walk that misses every 7th date and has a null.
  private val rng = new scala.util.Random(11)
  private def walk(n: Int): Seq[Double] =
    (1 to n).scanLeft(50.0)((p, _) => p * math.exp(rng.nextGaussian() * 0.03)).tail
  private val dates = (0 until 300).map(i => f"2024-${1 + i / 28}%02d-${1 + i % 28}%02d")
  private val seriesA: Seq[(String, Option[Double])] = dates.zip(walk(300)).zipWithIndex
    .map { case ((d, p), i) => d -> (if (i == 40) None else if (i == 90) Some(-1.0) else Some(p)) }
  private val seriesB: Seq[(String, Option[Double])] = dates.zip(walk(300)).zipWithIndex
    .collect { case ((d, p), i) if i % 7 != 3 => d -> (if (i == 150) None else Some(p)) }

  private val bars = (seriesA.map { case (d, p) => (d, "A", p) } ++
    seriesB.map { case (d, p) => (d, "B", p) }).toDF("date", "symbol", "close")

  private def sq(x: Double) = x * x

  test("metrics equal a plain-Scala recomputation within 1e-9") {
    val pb = seriesB.toMap
    val aligned = seriesA.sortBy(_._1).flatMap { case (d, pa) =>
      for (x <- pa; y <- pb.get(d).flatten if x > 0 && y > 0) yield (x, y)
    }
    val rets = aligned.sliding(2).map { case Seq((a0, b0), (a1, b1)) =>
      (math.log(a1 / a0), math.log(b1 / b0))
    }.toSeq
    val (a, b) = (rets.map(_._1).toArray, rets.map(_._2).toArray)
    val (ma, mb) = (a.sum / a.length, b.sum / b.length)
    val cov = a.indices.map(i => (a(i) - ma) * (b(i) - mb)).sum
    val pearson = cov / math.sqrt(a.map(x => sq(x - ma)).sum * b.map(x => sq(x - mb)).sum)
    val cosine = a.indices.map(i => a(i) * b(i)).sum /
      (math.sqrt(a.map(sq).sum) * math.sqrt(b.map(sq).sum))

    val r = CompareAssets.compare(bars, "A", "B")
    assert(r.n_points == rets.size.toLong && rets.size > 200)
    assert(approx(r.euclidean, math.sqrt(a.indices.map(i => sq(a(i) - b(i))).sum)),
      s"euclidean ${r.euclidean}")
    assert(approx(r.pearson, pearson), s"pearson ${r.pearson} vs $pearson")
    assert(approx(r.cosine, cosine), s"cosine ${r.cosine} vs $cosine")
    assert(approx(r.dtw, Dtw.distance(a, b)), s"dtw ${r.dtw}")
  }

  test("both DTW arms give bit-identical dtw and n_points") {
    val collected = CompareAssets.compare(bars, "A", "B", collectLimit = Long.MaxValue)
    val onCluster = CompareAssets.compare(bars, "A", "B", collectLimit = 0L)
    assert(onCluster.dtw == collected.dtw,
      s"aggregator arm ${onCluster.dtw} != collected arm ${collected.dtw}")
    assert(onCluster.n_points == collected.n_points)
    // the default limit (4096) takes the collected arm on this pair
    assert(CompareAssets.compare(bars, "A", "B") == collected)
    // a limit of exactly n_points still collects; one below does not
    val n = collected.n_points
    assert(CompareAssets.compare(bars, "A", "B", collectLimit = n).dtw == collected.dtw)
    assert(CompareAssets.compare(bars, "A", "B", collectLimit = n - 1).dtw == collected.dtw)
  }

  test("degenerate pairs return Zero") {
    val one = Seq(("2024-01-01", "A", 1.0), ("2024-01-01", "B", 2.0))
      .toDF("date", "symbol", "close")
    assert(CompareAssets.compare(one, "A", "B") == CompareAssets.Zero)
    assert(CompareAssets.compare(one, "A", "B", collectLimit = 0L) == CompareAssets.Zero)
    val disjoint = Seq(("2024-01-01", "A", 1.0), ("2024-01-02", "B", 2.0))
      .toDF("date", "symbol", "close")
    assert(CompareAssets.compare(disjoint, "A", "B") == CompareAssets.Zero)
  }
}
