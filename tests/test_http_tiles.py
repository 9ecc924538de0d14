"""Live HTTP tile egress over a loopback server (SURVEY.md §2.1 S2):
the reference fetches XYZ tiles with auth headers over real HTTP
(`/root/reference/dataproviders.py:96-105`,
`update_ways_metadata.py:88-89`). These tests stand up an in-process
``http.server`` on 127.0.0.1 and drive the SAME code paths a live
deployment uses — the ``http_tiles`` fetcher, called directly, and the
CLI's ``--url`` provider override, whose fetcher the executors call —
asserting server-side that every request carried the configured auth
header and that each distinct tile was fetched exactly once (the
one-fetch-per-tile-group contract)."""

from __future__ import annotations

import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.functions.geo import lnglat_to_tile_pixel
from ariadne_cartograph_spark.sources.tiles import http_tiles, synth_tile_array

AUTH = "Bearer test-token-xyz"


class _TileServer:
    """Serves synthetic 'L' tiles at /tiles/{z}/{x}/{y}; records every
    request's path + Authorization header; 404s tiles in `missing`."""

    def __init__(self, tile_size: int = 64):
        self.tile_size = tile_size
        self.requests: list[tuple[str, str | None]] = []
        self.request_times: list[float] = []
        self.missing: set[tuple[int, int, int]] = set()
        # (z,x,y) -> [remaining_failures, status]: fail with `status`
        # that many times, then serve normally (429/5xx retry contract)
        self.flaky: dict[tuple[int, int, int], list] = {}
        self.retry_after: str | None = None
        self.lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):
                import time as _t

                with outer.lock:
                    outer.requests.append(
                        (self.path, self.headers.get("Authorization"))
                    )
                    outer.request_times.append(_t.monotonic())
                try:
                    _, z, x, y = self.path.strip("/").split("/")
                    z, x, y = int(z), int(x), int(y)
                except ValueError:
                    self.send_error(400)
                    return
                if (z, x, y) in outer.missing:
                    self.send_error(404)
                    return
                with outer.lock:
                    state = outer.flaky.get((z, x, y))
                    if state and state[0] > 0:
                        state[0] -= 1
                        self.send_response(state[1])
                        if outer.retry_after is not None:
                            self.send_header("Retry-After", outer.retry_after)
                        self.send_header("Content-Length", "0")
                        self.end_headers()
                        return
                body = synth_tile_array(x, y, z, "L", outer.tile_size).tobytes()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # quiet
                pass

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    @property
    def url_template(self) -> str:
        return f"http://127.0.0.1:{self.port}/tiles/${{z}}/${{x}}/${{y}}"

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()


@pytest.fixture()
def server():
    s = _TileServer()
    yield s
    s.stop()


def test_http_tiles_live_fetch_with_auth(server):
    """Correct bytes for every tile, one request per fetch, auth header
    present on every request server-side."""
    fetch = http_tiles(server.url_template, headers={"Authorization": AUTH})
    tiles = [(12, 701, 1635), (12, 702, 1635), (12, 702, 1636)]
    for z, x, y in tiles:
        want = synth_tile_array(x, y, z, "L", server.tile_size).tobytes()
        assert fetch(z, x, y) == want
    paths = Counter(p for p, _ in server.requests)
    assert all(n == 1 for n in paths.values()), f"re-fetched: {paths}"
    assert len(paths) == 3
    assert all(h == AUTH for _, h in server.requests)


def test_http_tiles_fetch_failure_propagates_null(server):
    """A 404 tile yields None (P11 deviation: propagate, don't crash)
    after one request; other tiles from the same fetcher unaffected."""
    server.missing.add((12, 5, 6))
    fetch = http_tiles(server.url_template)
    assert fetch(12, 5, 6) is None
    assert fetch(12, 5, 7) == synth_tile_array(5, 7, 12, "L", server.tile_size).tobytes()
    assert Counter(p for p, _ in server.requests)["/tiles/12/5/6"] == 1


def test_http_tiles_retries_transient_failures(server):
    """A tile that 503s twice then succeeds must come back with correct
    bytes; a tile that 429s forever must exhaust max_retries and yield
    None; a permanent 404 must NOT be retried. Attempt counts asserted
    server-side — one logical GET per fetch becomes (1 + observed
    transient failures) physical requests."""
    server.flaky[(12, 1, 1)] = [2, 503]   # two transient failures
    server.flaky[(12, 2, 2)] = [99, 429]  # always throttled
    server.missing.add((12, 3, 3))        # permanent
    server.retry_after = "0.05"           # keep the test fast
    fetch = http_tiles(server.url_template, max_retries=3, backoff_s=0.05)
    rows = {(12, i, i): fetch(12, i, i) for i in (1, 2, 3, 4)}
    assert rows[(12, 1, 1)] == synth_tile_array(1, 1, 12, "L", server.tile_size).tobytes()
    assert rows[(12, 2, 2)] is None       # retries exhausted
    assert rows[(12, 3, 3)] is None       # permanent, no retry
    assert rows[(12, 4, 4)] == synth_tile_array(4, 4, 12, "L", server.tile_size).tobytes()
    paths = Counter(p for p, _ in server.requests)
    assert paths["/tiles/12/1/1"] == 3    # 2 failures + 1 success
    assert paths["/tiles/12/2/2"] == 4    # 1 + max_retries attempts
    assert paths["/tiles/12/3/3"] == 1    # 404 never retried
    assert paths["/tiles/12/4/4"] == 1


def test_http_tiles_rate_limit_paces_requests(server):
    """rate_limit_per_s spaces consecutive GETs of one fetcher (one
    partition's worth): 5 tiles at 20 req/s must take >= 4 x 50 ms of
    wall clock between first and last server-side arrival."""
    fetch = http_tiles(server.url_template, rate_limit_per_s=20.0)
    tiles = [fetch(12, i, i) for i in range(5)]
    assert all(t is not None for t in tiles)
    assert len(server.request_times) == 5
    spread = max(server.request_times) - min(server.request_times)
    assert spread >= 4 * 0.05 * 0.8, f"requests not paced: {spread:.3f}s"


def test_cli_url_path_hits_live_server_with_config_headers(spark, server, street_grid, tmp_path):
    """The reference's authed high-res flow end-to-end
    (`update_ways_metadata.py:88-89`): run() with a --url template and
    a config carrying provider headers fetches every distinct tile
    from the live server exactly once, despite the grid's duplicate
    coordinates (auth asserted server-side), and produces the
    IDENTICAL table to the offline synthetic provider — the server
    serves the same closed-form tiles."""
    from ariadne_cartograph_spark.operators.merge import ParquetMergeTable
    from ariadne_cartograph_spark.update_ways_metadata import load_ways, run

    ways = load_ways(spark, street_grid.path).localCheckpoint(eager=True)
    config = {"providers": {"strava": {"headers": {"Authorization": AUTH}}}}

    live_out = str(tmp_path / "wm_live")
    # strava's zoom-12 'L' provider, tile_size via the synthetic server
    import dataclasses

    from ariadne_cartograph_spark import update_ways_metadata as M

    # shrink the provider's tile_size to the server's (64) so the test
    # fetches small bodies; the math is tile_size-parametric
    orig = M.PROVIDERS["strava"]
    M.PROVIDERS["strava"] = (
        orig[0],
        dataclasses.replace(orig[1], tile_size=server.tile_size),
    )
    try:
        written = run(
            spark,
            ways,
            live_out,
            ["strava"],
            config=config,
            url_templates={"strava": server.url_template},
        )
        offline_out = str(tmp_path / "wm_offline")
        run(spark, ways, offline_out, ["strava"])
    finally:
        M.PROVIDERS["strava"] = orig

    assert written == {"popularity": street_grid.n_ways}
    assert server.requests and all(h == AUTH for _, h in server.requests)
    paths = Counter(p for p, _ in server.requests)
    assert all(n == 1 for n in paths.values()), f"re-fetched: {paths}"
    tx, ty, _, _ = lnglat_to_tile_pixel("lng", "lat", orig[1].zoom, server.tile_size)
    coords = ways.select(F.explode("geom").alias("pt")).select("pt.lng", "pt.lat")
    tiles = coords.select(tx.alias("x"), ty.alias("y")).distinct().collect()
    assert set(paths) == {f"/tiles/{orig[1].zoom}/{t.x}/{t.y}" for t in tiles}
    live = {
        (r.gid, r.popularity)
        for r in ParquetMergeTable(spark, live_out, key="gid").read().collect()
    }
    offline = {
        (r.gid, r.popularity)
        for r in ParquetMergeTable(spark, offline_out, key="gid").read().collect()
    }
    assert live == offline
