package graft.ops

import org.apache.spark.sql.functions._

import graft.core.Sentinels

/** Output quality accounting (reference: ondine/core/models.py:262-355
  * QualityReport + the whole-run output guard ondine/api/pipeline.py:1685-1739).
  *
  * A cell is invalid when null, blank, or the `[SKIPPED]` sentinel; a row
  * succeeds when every output cell is valid. `Enricher.qualityAggs` counts
  * both inside the run's own aggregation pass.
  */
final case class QualityReport(
    totalRows: Long,
    validRows: Long,
    invalidCellsPerColumn: Map[String, Long],
    successRate: Double,
    rating: String)

object Quality {

  def invalidCell(c: String) = {
    // compare on a string view: output columns may be typed (Typed format),
    // and ANSI mode rejects int === '[SKIPPED]'
    val s = col(c).cast("string")
    col(c).isNull || trim(s) === "" || s === Sentinels.SkippedOutput
  }

  /** success-rate buckets (reference: models.py:283-297). */
  def rating(rate: Double): String =
    if (rate >= 0.95) "excellent"
    else if (rate >= 0.80) "good"
    else if (rate >= 0.50) "poor"
    else "critical"

  /** Fail the run iff it produced ZERO valid outputs AND either something
    * was skipped/failed or no tokens flowed — the two-condition rule
    * (reference: pipeline.py:1685-1739). */
  def noOutputGuard(q: QualityReport, skippedOrFailed: Long, totalTokens: Long): Unit =
    if (q.validRows == 0 && q.totalRows > 0 &&
        (skippedOrFailed > 0 || totalTokens == 0))
      throw new IllegalStateException(
        s"run produced no valid outputs (rows=${q.totalRows}, " +
          s"skipped/failed=$skippedOrFailed, tokens=$totalTokens)")
}
