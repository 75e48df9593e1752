"""Driver-side plan-construction budget.

Building a DataFrame costs Python↔JVM round trips before Spark runs a
single task: every Column-API call is a few py4j commands (plus
call-site capture for Column methods), and every DataFrame method
re-analyses the plan so far. The flagship and GVI builders emit their
fixed expression trees as SQL fragments and one projection per
dependency level (README "Building plans"); these tests pin the py4j
command count of *construction only* — no action runs — so a builder
that slides back to per-node Column trees fails here.
"""

from __future__ import annotations

import contextlib

import py4j.clientserver
import py4j.java_gateway
import pytest

from hope_graph_builder_spark import synth
from tests.conftest import SF_TINY

# the SQL-fragment builders take ≈1.0k (flagship) and ≈0.14k (GVI)
# commands; the Column-tree builders took ≈13k and ≈1.36k
FLAGSHIP_BUDGET = 3_000
GVI_BUDGET = 600


@contextlib.contextmanager
def _count_py4j_commands():
    """Count every command sent over either py4j connection type."""
    count = [0]
    patched = []
    for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        orig = cls.send_command

        def counting(self, *args, _orig=orig, **kwargs):
            count[0] += 1
            return _orig(self, *args, **kwargs)

        cls.send_command = counting
        patched.append((cls, orig))
    try:
        yield count
    finally:
        for cls, orig in patched:
            cls.send_command = orig


def _build_calls(build) -> int:
    """Fewest py4j commands over two builds: a py4j garbage-collection
    message can land inside either one."""
    build()  # warm: first-use class lookups are not construction cost
    calls = []
    for _ in range(2):
        with _count_py4j_commands() as n:
            build()
        calls.append(n[0])
    return min(calls)


@pytest.fixture(scope="module")
def inputs(spark):
    from hope_graph_builder_spark.pipelines.green_view import rescale_gvi

    edges = synth.page_edges(spark, SF_TINY)
    layers = synth.noise_layers(spark)
    points = rescale_gvi(synth.gvi_points(spark, SF_TINY))
    # resolve the input schemas outside the counted region
    edges.schema, layers.schema, points.schema
    return edges, layers, points


def test_flagship_build_budget(inputs):
    from hope_graph_builder_spark.pipelines.noise_join import run_noise_join

    edges, layers, _ = inputs
    calls = _build_calls(lambda: run_noise_join(edges, layers, synth.NODATA_RECT, res=7))
    assert calls <= FLAGSHIP_BUDGET, calls


def test_gvi_build_budget(inputs):
    from hope_graph_builder_spark.pipelines.green_view import gvi_mean_per_edge

    edges, _, points = inputs
    calls = _build_calls(lambda: gvi_mean_per_edge(edges, points))
    assert calls <= GVI_BUDGET, calls
