"""Noise-exposure aggregation semantics (reference operators A2–A7).

Native re-expression of
`/root/reference/src/noise_graph_join/utils.py:112-275`. All row-wise
`df.apply(..., axis=1)` lambdas become native expressions, written as
SQL fragments (one JVM parse each, see README "Building plans"); the
only grouped aggregations are ordinary groupBy/pivot (map-side
partials, one shuffle each).

Layer model (synthetic graft of the reference's 13 layers,
`noise_layers.csv`): providers {hel, syke} × sources
{road, train, tram, metro} → 8 layers named ``{provider}_{source}``.
Priority: hel before syke (reference utils.py:168-171); interpolated
samples flip to syke-first (prefer_syke, utils.py:174-178 /
noise_graph_join.py:108).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark.functions.sqltext import ident

SOURCES = ["road", "train", "tram", "metro"]
PROVIDERS = ["hel", "syke"]
LAYER_NAMES = [f"{p}_{s}" for p in PROVIDERS for s in SOURCES]


def pivot_layer_max(matches: DataFrame, key: str | list[str] = "xy_id") -> DataFrame:
    """(key, layer, db) match rows → one row per key with a column per
    layer holding MAX db. Fuses J1's 13 sequential sjoins into one
    grouped aggregation and subsumes A2's overlap dedup-keep-max
    (utils.py:112-141): stacked invalid polygons max-reduce.

    Deliberately NOT ``.pivot()``: Spark's PivotFirst aggregation
    measured 8× slower than plain max(CASE WHEN) conditional
    aggregates on 32M match rows (33.5s vs 4.1s) — same semantics,
    same output schema."""
    keys = [key] if isinstance(key, str) else key
    return matches.groupBy(*keys).agg(
        *[F.expr(f"max(CASE WHEN layer = '{c}' THEN db END) AS {c}") for c in LAYER_NAMES]
    )


def aggregate_noise_values(samples: DataFrame, prefer_syke: bool = False) -> DataFrame:
    """Per-sampling-point source aggregation (utils.py:165-232):

    1. per-source dB = first non-null layer value in priority order (A3)
    2. n_max = max over sources (A4, null-safe greatest)
    3. n_max_sources = names of sources attaining n_max, in the fixed
       source order (A5)
    4. n_max_adj = n_max + count(sources) when >1 co-max sources (A6)

    NaN→NULL normalization is assumed done at ingest (we never produce
    NaN), so SQL coalesce == the reference's first-finite.
    """
    providers = PROVIDERS[::-1] if prefer_syke else PROVIDERS
    df = samples.withColumns({
        s: F.expr("coalesce(" + ", ".join(f"CAST({p}_{s} AS DOUBLE)" for p in providers) + ")")
        for s in SOURCES
    })
    df = df.withColumns({
        "rail": F.expr("greatest(train, tram, metro)"),
        "n_max": F.expr(f"greatest({', '.join(SOURCES)})"),
    })
    pairs = ", ".join(f"struct('{s}' AS name, {s} AS val)" for s in SOURCES)
    # n_max_mask is the bitmask twin of n_max_sources (bit i ⇔
    # SOURCES[i] attains n_max): all-numeric, so the hot path
    # caches/shuffles ints instead of string arrays (array-column cache
    # build measured ~10× slower)
    mask = " + ".join(
        ["0"] + [f"CASE WHEN {s} = n_max THEN {1 << i} ELSE 0 END" for i, s in enumerate(SOURCES)]
    )
    df = df.withColumns({
        "n_max_sources": F.expr(
            "CASE WHEN n_max IS NULL THEN CAST(array() AS ARRAY<STRING>)"
            f" ELSE transform(filter(array({pairs}), _p -> _p.val = n_max), _p -> _p.name) END"
        ),
        "n_max_mask": F.expr(f"coalesce({mask}, 0)"),
    })
    # n_max_adj counts co-max sources via the mask's popcount instead of
    # size(n_max_sources): identical by construction (bit i set ⇔ source
    # i in the list; n_max null ⇒ mask 0 ⇔ empty list), but it frees
    # column pruning to ELIMINATE the per-row string-array build when a
    # consumer (the flagship slim tail) never reads n_max_sources (r06,
    # guide §2.3 — don't compute what you throw away)
    cnt = "bit_count(n_max_mask)"
    return df.withColumn(
        "n_max_adj",
        F.expr(
            f"CASE WHEN {cnt} > 1 THEN n_max + {cnt} WHEN {cnt} = 1 THEN n_max"
            " ELSE CAST(NULL AS DOUBLE) END"
        ),
    )


def interpolate_missing(
    ring_pivot: DataFrame, ring_count: int = 20, key: str = "xy_id", q: float = 0.7
) -> DataFrame:
    """Per missing point: fill unmatched ring points' layer values with
    0, take the exact 0.7-nearest quantile per layer over the ring's
    ``ring_count`` samples, then 0 → NULL (noise_graph_join.py:88-98).

    ``ring_pivot`` = one row per ring point (key, layer columns), i.e.
    the pivot_layer_max output joined back to all ring points so every
    key has exactly ring_count rows (unmatched → nulls).
    """
    # exact nearest-rank quantile, pandas ``quantile(q, 'nearest')``
    # (noise_graph_join.py:93): sorted[round(q*(n-1))], 1-based here;
    # sort_array + element_at, NOT percentile_approx
    rank = int(q * (ring_count - 1) + 0.5) + 1
    aggs = [
        F.expr(
            f"element_at(sort_array(collect_list(coalesce(CAST({c} AS DOUBLE), 0.0D))), {rank})"
            f" AS {c}"
        )
        for c in LAYER_NAMES
    ]
    out = ring_pivot.groupBy(key).agg(*aggs)
    return out.withColumns({c: F.expr(f"CASE WHEN {c} != 0.0D THEN {c} END") for c in LAYER_NAMES})


def edge_db_rows(final_samples: DataFrame, edge_id: str = "edge_id") -> DataFrame:
    """Flat dB-exposure rows (edge_id, db, exposure):
    value_counts of n_max_adj per edge (nulls excluded, utils.py:242)
    × sample_len, rounded to 5 dp (utils.py:250)."""
    return (
        final_samples.filter(F.col("n_max_adj").isNotNull())
        .groupBy(edge_id, "n_max_adj")
        .agg(F.count("*").alias("cnt"), F.min("sample_len").alias("sample_len"))
        .select(
            edge_id,
            F.col("n_max_adj").cast("int").alias("db"),
            F.bround(F.col("cnt") * F.col("sample_len"), 5).alias("exposure"),
        )
    )


def edge_source_rows(final_samples: DataFrame, edge_id: str = "edge_id") -> DataFrame:
    """Flat source-count rows (edge_id, src, cnt) — the Counter over
    co-max source sets (utils.py:264-271). Implemented over the
    n_max_mask bitmask as ONE generate (explode of the set bits):
    unlike the previous 4-way filter-union, Generate PRESERVES the
    child's partitioning, so on an edge_id-partitioned input the
    groupBy needs no exchange (the union reset partitioning and forced
    one)."""
    entries = F.filter(
        F.array(
            *[
                F.when(
                    F.shiftright(F.col("n_max_mask"), i).bitwiseAND(F.lit(1)) == 1,
                    F.lit(s),
                )
                for i, s in enumerate(SOURCES)
            ]
        ),
        lambda e: e.isNotNull(),
    )
    return (
        final_samples.select(edge_id, F.explode(entries).alias("src"))
        .groupBy(edge_id, "src")
        .agg(F.count("*").alias("cnt"))
    )


def aggregate_noises_by_edge(
    final_samples: DataFrame,
    edge_id: str = "edge_id",
    edges_all: DataFrame | None = None,
    extent_flag: str | None = None,
) -> DataFrame:
    """Edge-level noise attributes (utils.py:234-275):

    - noises:        map<int,double> dB → round(count × sample_len, 5)
    - noise_source:  most frequent source over all samples' co-max
                     source lists ('' when none)
    - noise_sources: map<string,int> source → sample count

    Three-valued semantics (J3, reference noise_graph_update.py:29-48
    + igraph.py:62): when ``extent_flag`` names a boolean column on
    ``edges_all``, edges OUTSIDE the noise-data extent get
    noises=NULL / noise_source=NULL / noise_sources=NULL (nodata);
    edges inside with no matches keep the {} / '' / {} defaults.
    Without the flag every unmatched edge coalesces to {} (two-valued,
    the r01 behavior).

    Tie-break deviation (documented): the reference's
    ``statistics.mode`` picks the first-encountered value on ties
    (row-order dependent, utils.py:260); we pin a deterministic rule —
    highest count, then fixed source order road>train>tram>metro.

    Input: one row per (edge sample), with n_max_adj, n_max_mask,
    sample_len (sample_len is constant per edge: length / n).

    Two-level grouped pass (r06): the samples of one edge overwhelmingly
    share one (adj, mask) value (measured: 515k distinct
    (edge, adj, mask) triples over 6.4M samples ≈ 1.03 per edge), so a
    cheap whole-stage-codegen count by (edge, adj, mask) runs first and
    the object-hash collect_list + per-edge array expressions — the
    measured CPU hot spot of the old single-pass form (~25 of 82
    executor-seconds) — operate on ~1-entry weighted arrays instead of
    ~13-entry raw ones. The counts ride the arrays as weights; every
    output value and map entry order is bit-identical (oracle-pinned).
    The extra exchange carries the pre-aggregated triples (≤ one row
    per distinct (edge, adj, mask)) — strictly fewer bytes than the old
    partial collect buffers it replaces.
    """
    eid = ident(edge_id)
    pre = final_samples.groupBy(edge_id, "n_max_adj", "n_max_mask").agg(
        F.expr("CAST(count(1) AS INT) AS _c"), F.expr("min(sample_len) AS _psl")
    )
    g = pre.groupBy(edge_id).agg(
        F.expr("collect_list(struct(n_max_adj AS adj, n_max_mask AS mask, _c AS c)) AS _rows"),
        F.expr("min(_psl) AS _sl"),
    )

    def weight(pred: str) -> str:
        """Σ c over the ``_rows`` entries ``_r`` that satisfy ``pred``."""
        return f"aggregate(filter(_rows, _r -> {pred}), 0, (_acc, _r) -> _acc + _r.c)"

    adjs = (
        "sort_array(array_distinct(transform("
        "filter(_rows, _r -> _r.adj IS NOT NULL), _r -> _r.adj)))"
    )
    # exposure per dB class = round(count × sample_len, 5)  (A2/A7)
    noises = (
        f"map_from_entries(transform({adjs}, _a -> struct(CAST(_a AS INT) AS db,"
        f" bround({weight('_r.adj = _a')} * _sl, 5) AS exposure)))"
    )
    pairs = "filter(array({}), _p -> _p.cnt > 0)".format(", ".join(
        f"struct({weight(f'(shiftright(_r.mask, {i}) & 1) = 1')} AS cnt, {-i} AS negprio,"
        f" '{s}' AS src)"
        for i, s in enumerate(SOURCES)
    ))
    # mode with the deterministic tie-break: max count, then the fixed
    # source order (struct ordering: cnt, then -priority)
    out = g.selectExpr(
        eid,
        f"{noises} AS noises",
        f"CASE WHEN size({pairs}) > 0 THEN array_max({pairs}).src ELSE '' END AS noise_source",
        "map_from_entries(sort_array(transform("
        f"{pairs}, _p -> struct(_p.src AS src, _p.cnt AS cnt)))) AS noise_sources",
    )

    if edges_all is None and extent_flag is None:
        # every edge yields ≥1 sample ⇒ the group keys already ARE the
        # full edge list: no reassembly join at all
        return out
    if edges_all is None:
        edges_all = final_samples.select(edge_id).distinct()
    in_extent = "true" if extent_flag is None else ident(extent_flag)

    def gated(col: str, empty: str, typ: str) -> str:
        return (
            f"CASE WHEN {in_extent} THEN coalesce({col}, {empty})"
            f" ELSE CAST(NULL AS {typ}) END AS {col}"
        )

    return edges_all.join(out, edge_id, "left").selectExpr(
        eid,
        gated(
            "noises",
            "map_from_arrays(CAST(array() AS ARRAY<INT>), CAST(array() AS ARRAY<DOUBLE>))",
            "MAP<INT, DOUBLE>",
        ),
        gated("noise_source", "''", "STRING"),
        gated(
            "noise_sources",
            "map_from_arrays(CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<INT>))",
            "MAP<STRING, INT>",
        ),
    )
