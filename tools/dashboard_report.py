"""Static report counterpart of the reference's interactive dashboard.

The reference ships a Dash/Plotly app serving six OLAP queries over the
warehouse (/root/reference/dashboard/app.py).  This engine re-expresses
those queries as parameterized DataFrames (queries/warehouse.py) and
renders them here as ONE self-contained HTML file — tables plus inline-SVG
bar charts, no plotting library, no web server.  Interactivity stays out
of engine scope (SURVEY.md's sanctioned collapse); the REPORT closes the
artifact gap: a user of the reference dashboard gets the same six answers
from the same warehouse, generated batch-side where a 100 TB deployment
would schedule it.

Usage: python tools/dashboard_report.py <warehouse_dir> [out.html]
"""

from __future__ import annotations

import html
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _svg_bars(rows: list[tuple[str, float]], width: int = 640) -> str:
    """Horizontal bar chart as inline SVG: (label, value) rows, top-N."""
    if not rows:
        return "<p><em>no rows</em></p>"
    mx = max(v for _, v in rows) or 1.0
    bar_h, gap, label_w = 18, 6, 240
    h = len(rows) * (bar_h + gap)
    parts = [
        f'<svg width="{width}" height="{h}" '
        'xmlns="http://www.w3.org/2000/svg" font-size="12px" '
        'font-family="sans-serif">'
    ]
    for i, (label, v) in enumerate(rows):
        y = i * (bar_h + gap)
        w = max(1, int((width - label_w - 80) * v / mx))
        parts.append(
            f'<text x="{label_w - 6}" y="{y + 13}" text-anchor="end">'
            f"{html.escape(str(label)[:36])}</text>"
            f'<rect x="{label_w}" y="{y}" width="{w}" height="{bar_h}" '
            'fill="#4878a8"/>'
            f'<text x="{label_w + w + 4}" y="{y + 13}">{v:,.0f}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def _table(df, limit: int = 15) -> str:
    rows = df.limit(limit).collect()
    cols = df.columns
    out = ["<table border='1' cellpadding='4' cellspacing='0'>"]
    out.append("<tr>" + "".join(f"<th>{html.escape(c)}</th>" for c in cols) + "</tr>")
    for r in rows:
        out.append(
            "<tr>"
            + "".join(f"<td>{html.escape(str(v))}</td>" for v in r)
            + "</tr>"
        )
    out.append("</table>")
    return "".join(out)


def slice_defaults(spark, wh: str) -> dict:
    """The slice & dice parameters, picked like the Dash app pre-fills its
    form: the busiest residence city and the full year span of deaths."""
    from pyspark.sql import functions as F

    from olap_sus_spark.schemas import read_table

    fact = read_table(spark, wh, "fact_obitos")
    mun = read_table(spark, wh, "dim_municipio")
    city = (
        fact.groupBy("chave_municipio_residencia")
        .count()
        .join(
            mun.select(
                F.col("chave_municipio").alias("chave_municipio_residencia"),
                "nome_municipio",
            ),
            "chave_municipio_residencia",
        )
        .orderBy(F.col("count").desc())
        .first()["nome_municipio"]
    )
    anos = (
        fact.join(
            read_table(spark, wh, "dim_data").select(
                F.col("chave_data").alias("chave_data_obito"), "ano"
            ),
            "chave_data_obito",
        )
        .agg(F.min("ano"), F.max("ano"))
        .first()
    )
    return {"city": city, "y0": int(anos[0]), "y1": int(anos[1])}


def build_report(spark, wh: str) -> str:
    """Render the six dashboard queries to a self-contained HTML string."""
    from pyspark.sql import functions as F

    from olap_sus_spark.queries import warehouse as W

    sections = []

    def add(title: str, df, label_col: str | None = None, value_col: str | None = None):
        body = _table(df)
        chart = ""
        if label_col and value_col:
            top = (
                df.orderBy(F.col(value_col).desc())
                .limit(12)
                .select(label_col, value_col)
                .collect()
            )
            chart = _svg_bars([(r[0], float(r[1] or 0)) for r in top])
        sections.append(
            f"<h2>{html.escape(title)}</h2>{chart}{body}"
        )

    add(
        "1) Top-10 causas de morte por família de ocupação",
        W.topk_causes_per_family(spark, wh, k=10),
        "descricao_causa", "quantidade_obitos",
    )
    add(
        "2) Nascimentos por estado × faixa etária da mãe",
        W.rollup_births_by_state_age(spark, wh),
        "estado", "quantidade_nascimentos",
    )
    # slice & dice parameters auto-picked from the warehouse (the dashboard
    # reads them from input boxes)
    d = slice_defaults(spark, wh)
    add(
        f"3) Slice & dice — óbitos em {d['city']}, {d['y0']}–{d['y1']}",
        W.slice_dice_deaths(spark, wh, d["city"], d["y0"], d["y1"]),
    )
    add(
        "4) Pivot — óbitos por estado por ano",
        W.pivot_deaths_year_by_uf(spark, wh),
    )
    add(
        "5) Drill-across — nascimentos × óbitos por cidade/ano",
        W.drill_across_growth(spark, wh),
    )
    add(
        "6) Roll-up — óbitos por ocupação × escolaridade",
        W.rollup_deaths_by_occupation_schooling(spark, wh),
        "descricao_familia", "quantidade_obitos",
    )
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        "<title>olap_sus_spark report</title></head><body>"
        "<h1>olap_sus_spark — warehouse report</h1>"
        f"<p>warehouse: <code>{html.escape(wh)}</code></p>"
        + "".join(sections)
        + "</body></html>"
    )


def main() -> None:
    from olap_sus_spark.session import get_spark

    wh = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else "report.html"
    spark = get_spark("dashboard-report")
    spark.sparkContext.setLogLevel("ERROR")
    text = build_report(spark, wh)
    with open(out, "w") as f:
        f.write(text)
    print(f"wrote {out} ({len(text)} bytes)")


if __name__ == "__main__":
    main()
