package graft.io

import graft.analytics.CompareAssets.SimilarityResult
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** S10 — the reference's JSON API payloads (`app.py:156-487`) as an
  * engine sink. The Flask layer itself is out of engine scope (SURVEY
  * §2.1), but its RESPONSE SHAPES are not: each endpoint serializes a
  * small analytics result, and this module renders the engine's frames
  * into byte-compatible payload JSON, so a service in front of the
  * engine only routes strings.
  *
  * API-edge materialization is driver-side BY DESIGN: every payload is
  * bounded by the portfolio size (k symbols, k² matrix cells, one
  * metrics struct — never row-scale data), which is the one place
  * `collect()` is the correct plan at any corpus scale. The heavy
  * lifting (vol pipeline, correlation matrix, DTW) stays distributed
  * upstream.
  *
  * Each frame-taking render is a collect followed by its row form, so a
  * caller that already holds a payload's rows (Dashboard renders the
  * risk and heatmap rows into both the JSON and the PDF) computes each
  * result once and renders it through the same code.
  *
  * Rendering is dependency-free (no json4s coupling): keys are emitted
  * in the reference's insertion order, doubles through the same
  * fixed-dp rounding the endpoints apply (`round(x, 4|6|2)`),
  * integral doubles as `1.0` (Python float repr).
  */
object ApiJson {

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Python-float repr: integral doubles keep one decimal (1.0), others
    * print shortest (matches jsonify of round()ed floats). */
  private def jnum(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15)
      s"${d.toLong}.0"
    else d.toString

  /** HALF_UP at `dp` decimals over the double's shortest decimal form —
    * the rounding Spark's `round` applies to a double. */
  def round(d: Double, dp: Int): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `/api/symbols` (app.py:156-159): sorted symbol list. */
  def symbols(bars: DataFrame, keyCol: String = "symbol"): String =
    symbols(bars.select(col(keyCol)).distinct()
      .orderBy(keyCol).collect().map(_.getString(0)).toSeq)

  /** `/api/symbols` from the already sorted symbol list. */
  def symbols(sorted: Seq[String]): String =
    s"""{"symbols": [${sorted.map(jstr).mkString(", ")}]}"""

  /** `/api/heatmap` (app.py:322-353): dense correlation matrix from the
    * engine's long-form heatmap frame (ka, kb, corr — diag included).
    * Cells round to 4 dp like the endpoint; symbol order is sorted
    * (the engine's deterministic stand-in for the reference's dataset
    * column order). */
  def heatmap(corrLong: DataFrame): String =
    heatmap(corrLong.select("ka", "kb", "corr").collect().toSeq)

  /** `/api/heatmap` from the collected (ka, kb, corr) rows. */
  def heatmap(corrRows: Seq[Row]): String = {
    val cells = corrRows
      .map(r => (r.getString(0), r.getString(1)) -> round(r.getDouble(2), 4))
      .toMap
    val syms = cells.keys.map(_._1).toSeq.distinct.sorted
    val matrix = syms.map { a =>
      syms.map(b => jnum(if (a == b) 1.0 else cells((a, b))))
        .mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")
    s"""{"symbols": [${syms.map(jstr).mkString(", ")}], "matrix": $matrix}"""
  }

  /** `/api/risk` (app.py:447-482): classifications (rank order) +
    * thresholds + class counts. Input is the engine's classify frame
    * (symbol, vol, risk_class, rank, p33, p66 — Volatility.classify's
    * exact output). Summary keys are the capitalized class labels
    * (volatility.py:282, which the endpoint passes through verbatim). */
  def risk(classified: DataFrame, keyCol: String = "symbol"): String =
    risk(riskRows(classified, keyCol))

  /** The rows the risk payload renders: (key, vol, risk_class, rank,
    * p33, p66), rank order. */
  def riskRows(classified: DataFrame, keyCol: String = "symbol"): Seq[Row] =
    classified
      .select(col(keyCol), col("vol"), col("risk_class"),
        col("rank"), col("p33"), col("p66"))
      .orderBy("rank").collect().toSeq

  /** `/api/risk` from [[riskRows]]. */
  def risk(rows: Seq[Row]): String = {
    val cls = rows.map { r =>
      s"""{"symbol": ${jstr(r.getString(0))}, "volatility": ${jnum(round(r.getDouble(1), 6))}, "volatility_pct": ${jnum(round(r.getDouble(1) * 100, 2))}, "risk_class": ${jstr(r.getString(2))}, "rank": ${r.getInt(3)}}"""
    }.mkString("[", ", ", "]")
    val counts = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    val summary = Seq("Conservador", "Moderado", "Agresivo")
      .map(k => s"${jstr(k)}: ${counts.getOrElse(k, 0)}").mkString("{", ", ", "}")
    val (p33, p66) =
      if (rows.isEmpty) (0.0, 0.0) else (rows.head.getDouble(4), rows.head.getDouble(5))
    s"""{"classifications": $cls, "thresholds": {"p33": ${jnum(round(p33, 6))}, "p66": ${jnum(round(p66, 6))}}, "summary": $summary}"""
  }

  /** `/api/similarity` metrics block (app.py:286-300): the four metrics
    * rounded to 6 dp plus the aligned point count. */
  def similarity(symA: String, symB: String, r: SimilarityResult): String =
    s"""{"symbol_a": ${jstr(symA)}, "symbol_b": ${jstr(symB)}, "metrics": {"euclidean": ${jnum(round(r.euclidean, 6))}, "pearson": ${jnum(round(r.pearson, 6))}, "dtw": ${jnum(round(r.dtw, 6))}, "cosine": ${jnum(round(r.cosine, 6))}, "n_points": ${r.n_points}}}"""
}
