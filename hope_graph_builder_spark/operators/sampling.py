"""Edge sampling-point generation — native Column re-expression of the
reference's per-edge Shapely interpolation
(`/root/reference/src/noise_graph_join/utils.py:15-56`).

Reference semantics reproduced exactly:
- sample_count = round(length / interval)  (Python banker's round →
  Spark ``bround``), 0 → 1                         (utils.py:27-28)
- sample positions at normalized fracs (i + 0.5) / n (utils.py:15-21)
- sample_len = length / n                          (utils.py:46; the
  reference also rounds to 10 dp — dropped here as a documented
  deviation: 10-dp banker's rounding of arbitrary doubles is not
  reproducible bit-for-bit across engines, and the raw IEEE quotient
  is both exact and deterministic)
- xy_id from coords rounded to 0.1 m (banker's)    (utils.py:61)

Deviation (documented): the reference's xy_id is the string
f"{round(x,1)}_{round(y,1)}"; ours is the integer
bround(x,1)*10 * 10^7 + bround(y,1)*10 — same quantization, same
dedup equivalence classes, but joinable as a long (cheaper shuffle
key at 100 TB than a string).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark.functions.sqltext import dbl, ident

SAMPLING_INTERVAL_M = 3.0  # reference noise_graph_join.py:28


def _sample_count_sql(length: str, interval: float) -> str:
    # rint = IEEE half-even on the double — same banker's semantics as
    # bround at scale 0 (validated vs DuckDB round_even on 500k values)
    # without bround's per-row BigDecimal allocation
    return (
        f"greatest(CAST(1 AS BIGINT), CAST(rint(({length}) / {dbl(interval)}) AS BIGINT))"
    )


_EXPLODE_SAMPLES = "explode(sequence(CAST(0 AS BIGINT), _n - 1))"


def sample_edges(
    edges: DataFrame,
    interval: float = SAMPLING_INTERVAL_M,
    edge_id: str = "edge_id",
    index_col: str | None = None,
) -> DataFrame:
    """2-vertex edges (x1,y1,x2,y2,length) → sample points
    (edge_id, sample_len, x, y). Pure native arithmetic: sequence +
    explode replaces the reference's row_accumulator loop
    (utils.py:38-56)."""
    df = (
        edges.withColumn("_n", F.expr(_sample_count_sql("length", interval)))
        # sample_len before the explode: computed once per edge
        .withColumn("sample_len", F.expr("length / _n"))
        .withColumn("_i", F.expr(_EXPLODE_SAMPLES))
        .withColumn("_frac", F.expr("(_i + 0.5D) / _n"))
    )
    extra = [f"_i AS {ident(index_col)}"] if index_col else []
    return df.selectExpr(
        ident(edge_id),
        "sample_len",
        *extra,
        "x1 + (x2 - x1) * _frac AS x",
        "y1 + (y2 - y1) * _frac AS y",
    )


def _segment_lengths_sql(xs: str, ys: str) -> str:
    """array<double> of the segment lengths of the polyline whose
    vertex arrays are the SQL operands ``xs``, ``ys``."""

    def delta(a: str) -> str:
        return f"(element_at({a}, CAST(_s + 1 AS INT)) - element_at({a}, CAST(_s AS INT)))"

    return (
        f"transform(sequence(1, size({xs}) - 1),"
        f" _s -> sqrt({delta(xs)} * {delta(xs)} + {delta(ys)} * {delta(ys)}))"
    )


def _fold_sum_sql(arr: str) -> str:
    return f"aggregate({arr}, 0.0D, (_a, _v) -> _a + _v)"


def sample_polyline(
    edges: DataFrame,
    interval: float = SAMPLING_INTERVAL_M,
    edge_id: str = "edge_id",
    xs: str = "xs",
    ys: str = "ys",
    index_col: str | None = None,
) -> DataFrame:
    """Multi-vertex LineString edges (edge_id, xs array<double>,
    ys array<double>) → sample points (edge_id, sample_len, x, y) —
    the general form of the reference's Shapely ``interpolate`` walk
    over arbitrary polylines (noise_graph_join/utils.py:23-30).
    ``sample_edges`` stays the 2-vertex fast path (same semantics,
    asserted in tests).

    Entirely native higher-order SQL functions (no UDF):
    per-segment lengths → running-sum boundaries (left fold, same
    association order as the DuckDB oracle ⇒ bit-identical doubles) →
    sequence+explode of sample indices → locate the segment whose
    cumulative span covers the target distance → linear interpolation
    within it. Vertex counts on street edges are small (tens), so the
    O(n²) slice-folds stay in whole-stage codegen and beat any Arrow
    round-trip."""
    qx, qy = ident(xs), ident(ys)
    cums = f"transform(sequence(1, size(_seg)), _s -> {_fold_sum_sql('slice(_seg, 1, _s)')})"
    df = (
        edges.withColumn("_seg", F.expr(_segment_lengths_sql(qx, qy)))
        .withColumn("_cum", F.expr(cums))
        .withColumn("_len", F.expr("element_at(_cum, -1)"))
        .withColumn("_n", F.expr(_sample_count_sql("_len", interval)))
        .withColumn("sample_len", F.expr("_len / _n"))
        .withColumn("_i", F.expr(_EXPLODE_SAMPLES))
        .withColumn("_d", F.expr("(_i + 0.5D) / _n * _len"))
        # segment index (1-based): 1 + #interior boundaries ≤ d (the
        # last boundary == length is excluded so d never lands past the
        # end)
        .withColumn(
            "_j",
            F.expr("CAST(1 + size(filter(slice(_cum, 1, size(_cum) - 1), _c -> _c <= _d)) AS INT)"),
        )
        # zero-length segment (repeated consecutive vertices) ⇒ snap to
        # the segment start instead of dividing 0/0 into NaN
        .withColumn(
            "_t",
            F.expr(
                "CASE WHEN element_at(_seg, _j) > 0"
                " THEN (_d - CASE WHEN _j = 1 THEN 0.0D ELSE element_at(_cum, _j - 1) END)"
                " / element_at(_seg, _j) ELSE 0.0D END"
            ),
        )
    )
    extra = [f"_i AS {ident(index_col)}"] if index_col else []
    return df.selectExpr(
        ident(edge_id),
        "sample_len",
        *extra,
        f"element_at({qx}, _j) + (element_at({qx}, _j + 1) - element_at({qx}, _j)) * _t AS x",
        f"element_at({qy}, _j) + (element_at({qy}, _j + 1) - element_at({qy}, _j)) * _t AS y",
    )


def polyline_length_expr(xs: str = "xs", ys: str = "ys") -> Column:
    """F3 general polyline length as one native fold."""
    return F.expr(_fold_sum_sql(_segment_lengths_sql(ident(xs), ident(ys))))


def xy_id_sql(x: str, y: str) -> str:
    """Quantized-location surrogate key (reference utils.py:58-65) over
    the SQL operands ``x``, ``y``: coords rounded to 0.1 m (banker's, on
    the ×10-scaled double via rint — pure FP, no BigDecimal) packed into
    one long."""
    return (
        f"CAST(rint(({x}) * 10.0D) AS BIGINT) * CAST(10000000 AS BIGINT)"
        f" + CAST(rint(({y}) * 10.0D) AS BIGINT)"
    )


def with_xy_id(df: DataFrame, x: str = "x", y: str = "y") -> DataFrame:
    return df.withColumn("xy_id", F.expr(xy_id_sql(ident(x), ident(y))))


def ring_points(
    points: DataFrame,
    radius: float = 7.0,
    count: int = 20,
    keep: list[str] | None = None,
    index_col: str | None = None,
) -> DataFrame:
    """k offset sampling points on a circle around each input point —
    the kNN-interpolation ring (reference utils.py:89-96; r=7, k=20 at
    noise_graph_join.py:75). Native trig, sequence + explode.
    ``index_col`` optionally exposes the ring-point index 0..count-1."""
    keep = keep or ["xy_id"]
    theta = f"({dbl(2.0 * 3.141592653589793)} * (_i + 0.5D) / {dbl(count)})"
    extra = [f"_i AS {ident(index_col)}"] if index_col else []
    return (
        points.withColumn("_i", F.expr(f"explode(sequence(0, {count - 1}))"))
        .selectExpr(
            *[ident(c) for c in keep],
            *extra,
            f"x + {dbl(radius)} * cos({theta}) AS x",
            f"y + {dbl(radius)} * sin({theta}) AS y",
        )
    )
