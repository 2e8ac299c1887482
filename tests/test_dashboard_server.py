"""Interactive dashboard (tools/dashboard_server.py): two parameterized
requests against a live server over a real warehouse — the round-7 close
of the reference's 'live callbacks' delta (dashboard/app.py:239-305)."""

from __future__ import annotations

import threading
import urllib.parse
import urllib.request

import pytest

from tests.test_etl_e2e import DT, LANDING, SEEDS

pytestmark = pytest.mark.slow  # hour-scale chain/probe suite: opt-in via -m slow (driver verify window, r11)



@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    from olap_sus_spark import etl

    d = str(tmp_path_factory.mktemp("wh_srv"))
    etl.bootstrap_warehouse(spark, SEEDS, d)
    etl.run_ingest(spark, "sinasc", DT, LANDING, d)
    etl.run_ingest(spark, "sim", DT, LANDING, d)
    etl.run_ingest(spark, "sih", DT, LANDING, d)
    return d


def _get(port: int, path: str) -> tuple[int, str]:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=120) as r:
        return r.status, r.read().decode()


def test_parameterized_requests_drive_live_queries(spark, wh):
    from tools.dashboard_server import serve

    srv = serve(spark, wh, port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        status, index = _get(port, "/")
        assert status == 200 and "Slice" in index and "<form" in index
        city = srv.defaults["city"]
        y0, y1 = srv.defaults["y0"], srv.defaults["y1"]
        q = urllib.parse.quote(city)

        # request 1: full year span for the busiest city
        status, full = _get(port, f"/slice?city={q}&y0={y0}&y1={y1}")
        assert status == 200 and "<table" in full and city in full

        # request 2: a year range OUTSIDE the warehouse → header-only table,
        # proving the parameter reaches the query, not a cached page
        # (the e2e fixture ingests a single day, so narrowing within the
        # span can't differ — an empty slice can)
        status, narrow = _get(port, f"/slice?city={q}&y0={y0 - 5}&y1={y0 - 1}")
        assert status == 200 and "<table" in narrow
        assert narrow.count("<tr>") < full.count("<tr>")
        assert narrow != full

        # top-k with two different k values
        status, k2 = _get(port, "/topk?k=2")
        assert status == 200 and "Top-2" in k2 and "<svg" in k2
        status, k5 = _get(port, "/topk?k=5")
        assert status == 200 and k5.count("<tr>") >= k2.count("<tr>")

        # malformed parameter → 400, not a stack trace
        try:
            status, _ = _get(port, "/slice?city=x&y0=abc")
            assert False, "expected HTTPError"
        except urllib.error.HTTPError as e:
            assert e.code == 400

        # drill-across (dashboard/app.py:298 callback): all-regions vs a
        # two-region restriction vs a region that doesn't exist.  The
        # restriction must reach the query (row counts strictly shrink).
        from pyspark.sql import functions as F

        from olap_sus_spark.schemas import read_table

        # the busiest city's health region is guaranteed to have fact rows
        region = (
            read_table(spark, wh, "dim_municipio")
            .filter(F.col("nome_municipio") == city)
            .select("regiao_saude")
            .first()[0]
        )
        assert region, "fixture warehouse must map the busiest city to a region"
        status, drill_all = _get(port, "/drill")
        assert status == 200 and "all regions" in drill_all and "<table" in drill_all
        status, drill_one = _get(
            port, f"/drill?regions={urllib.parse.quote(region)}"
        )
        assert status == 200 and city in drill_one
        assert 1 < drill_one.count("<tr>") <= drill_all.count("<tr>")
        # a region that doesn't exist → header-only table, proving the
        # restriction reaches the query rather than a cached page
        status, drill_none = _get(port, "/drill?regions=__nope__")
        assert status == 200
        assert drill_none.count("<tr>") < drill_one.count("<tr>")
    finally:
        srv.shutdown()
        srv.server_close()
