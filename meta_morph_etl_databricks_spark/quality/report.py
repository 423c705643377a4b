"""Reference-style reconciliation report rendering (Raptor's email body,
raptor/Raptor/Raptor.py:160-262) — the HTML document, minus the SMTP
transport (out of engine scope; callers hand the string to their mailer).

Reference sections, reproduced in order: Overall Summary, Column Level
Mismatch Summary (one exemplar row per mismatching column), Column Level
Mismatch Percentage (worst columns first), and bounded samples of the
extra records on each side.  Every section is a ``limit(n)`` collect —
the report never pulls more than ``5 * limit`` rows to the driver no
matter how large the diff is, so rendering a 100 TB reconcile costs five
small jobs over the already-built lazy frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_STYLES = """
<style>
  table { width: 100%; border-collapse: collapse; }
  th, td { border: 1px solid #444; text-align: left; padding: 6px; font-size: 14px; }
  th { background-color: #fffd75; text-align: center; font-weight: bold; }
  td { background-color: #edffff; }
  .section-title { margin-top: 20px; font-size: 18px; color: #444; font-weight: bold; }
</style>
"""


def _table_html(df: DataFrame, limit: int) -> str:
    """Bounded render: reference's render_html_table (Raptor.py:204-207)."""
    pdf = df.limit(limit).toPandas()
    if pdf.empty:
        return "<p><i>none</i></p>"
    return pdf.to_html(index=False)


def render_report_html(report, *, limit: int = 15, title: str = "reconcile") -> str:
    """Render a :class:`~.raptor_api.ReconcileReport` as the reference's
    five-section HTML document.

    ``limit`` bounds every section (reference hardcodes 15).  The
    exemplar-mismatch section mirrors Raptor.py:211-216: row_number per
    mismatching column ordered by (source_value, target_value) DESC,
    keep row 1 — one representative cell per column.
    """
    res = report.result
    exemplar_w = Window.partitionBy("column_name").orderBy(
        F.col("source_value").desc(), F.col("target_value").desc()
    )
    exemplars = (
        res.cells.withColumn("_rn", F.row_number().over(exemplar_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    pct = res.summary.orderBy(F.col("mismatch_pct").desc())

    sections = [
        ("Overall Summary", report.overview),
        ("Column Level Mismatch Summary", exemplars),
        ("Column Level Mismatch Percentage", pct),
        ("Source Extra Records Sample", res.extra_source),
        ("Target Extra Records Sample", res.extra_target),
    ]
    body = "\n".join(
        f'<div class="section-title">{name}</div>\n{_table_html(df, limit)}'
        for name, df in sections
    )
    return (
        f"<html><head>{_STYLES}</head><body>"
        f"<h2>DATA RECONCILE Summary for {title}</h2>\n{body}</body></html>"
    )
