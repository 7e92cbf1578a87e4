package graft.analytics

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X3: the reference's compare_two_assets façade
  * (similarity.py:440-530) — align two calendar-aligned price series
  * positionally (keep positions where BOTH are non-null and > 0),
  * compute technical-variant log returns on each aligned series, then
  * all four similarity measures over the returns.
  *
  * Returns the all-zero result when fewer than 2 aligned points
  * (similarity.py:503-512). One aggregate: a date join + window feed a
  * single multi-aggregate pass that yields the metrics, the point
  * count and, at or below `collectLimit` points, the pair's sorted
  * return arrays — over a cached bar table that is 3 Spark jobs
  * (broadcast, window exchange, result; JobCountSpec pins it). The
  * kernel then runs locally on those arrays (the reference's regime,
  * ~1.8k points). Above `collectLimit` the aggregate collects nothing,
  * the points stay on the cluster and the kernel runs inside a typed
  * [[DtwPairAggregator]] on the final aggregate task of a second pass
  * — the driver only receives the scalar. Both paths feed the
  * identical sorted arrays to [[Dtw.distance]], so the dispatch is
  * invisible in the result (InvariantsSpec property-checks the
  * equality, CompareAssetsSpec pins it on this façade).
  */
object CompareAssets {

  case class SimilarityResult(euclidean: Double, pearson: Double, dtw: Double,
    cosine: Double, n_points: Long)

  val Zero: SimilarityResult = SimilarityResult(0.0, 0.0, 0.0, 0.0, 0L)

  /** `bars`: long table with (dateCol, keyCol, valueCol), calendar-aligned. */
  def compare(bars: DataFrame, keyA: String, keyB: String,
      keyCol: String = "symbol", dateCol: String = "date",
      valueCol: String = "close", collectLimit: Long = 4096L): SimilarityResult = {
    val spark = bars.sparkSession
    import spark.implicits._

    val a = bars.filter(col(keyCol) === keyA)
      .select(col(dateCol).as("d"), col(valueCol).as("pa"))
    val b = bars.filter(col(keyCol) === keyB)
      .select(col(dateCol).as("d"), col(valueCol).as("pb"))
    val aligned = a.join(b, "d")
      .filter(col("pa").isNotNull && col("pb").isNotNull &&
        col("pa") > 0 && col("pb") > 0)

    val w = Window.orderBy("d")
    // technical-variant returns over ALIGNED positions (0.0 on invalid
    // pairs — technical.py:151-153); aligned values are all positive, so
    // only the ratio path fires. One return per aligned point after the
    // first, so n_points < 1 is exactly "fewer than 2 aligned points".
    val rets = aligned
      .withColumn("prev_a", lag(col("pa"), 1).over(w))
      .withColumn("prev_b", lag(col("pb"), 1).over(w))
      .filter(col("prev_a").isNotNull)
      .select(col("d"),
        when(col("pa") > 0 && col("prev_a") > 0, log(col("pa") / col("prev_a")))
          .otherwise(0.0).as("a"),
        when(col("pb") > 0 && col("prev_b") > 0, log(col("pb") / col("prev_b")))
          .otherwise(0.0).as("b"))
      .withColumn("pos", row_number().over(w).cast("long"))

    // collect_list skips the nulls, so the list holds at most
    // collectLimit points and is complete exactly when n <= collectLimit
    val m = Similarity.metrics(rets, array_sort(collect_list(
      when(col("pos") <= collectLimit, struct(col("d"), col("a"), col("b"))))).as("pts"))
      .head()
    val n = m.getAs[Long]("n_points")
    if (n < 1) return Zero
    val dtw =
      if (n <= collectLimit) {
        val pts = m.getSeq[Row](m.fieldIndex("pts"))
        Dtw.distance(pts.map(_.getDouble(1)).toArray, pts.map(_.getDouble(2)).toArray)
      } else
        rets.select("pos", "a", "b").as[(Long, Double, Double)]
          .select(DtwPairAggregator.column())
          .head()
    SimilarityResult(
      euclidean = m.getAs[Double]("euclidean"),
      pearson = m.getAs[Double]("pearson"),
      dtw = dtw,
      cosine = m.getAs[Double]("cosine"),
      n_points = n)
  }
}
