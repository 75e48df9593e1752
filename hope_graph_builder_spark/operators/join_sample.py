"""Uniform sampling over a join WITHOUT materializing the join —
the sampling-over-joins line of work (SIGMOD'23/'24 "Sampling over
Union of Joins" / "Reservoir Sampling over Joins", ICDE'25 spatial
range-join sampling): at 100 TB a skewed equi-join can have 10¹²+
result pairs, and "join then .sample()" pays for every one of them.
This operator samples k pairs paying only counts + k lookups.

Idea (exact, declarative): the join result per key is a ca×cb grid,
so every pair has a GLOBAL INDEX under the bijection
  pair_index = key_offset + ia * cb + ib,
where key_offset is the prefix sum of ca·cb over keys. Sampling k
pairs = choosing k indices in [0, P) and inverting the bijection
with integer arithmetic — never enumerating the other P − k pairs.

Index choice is SYSTEMATIC-STRATIFIED and deterministic (repo
convention — no rand()): stratum j = [⌊jP/k⌋, ⌊(j+1)P/k⌋), one index
per stratum at a salted-hash offset. Every pair is picked with
probability ≈ k/P (exactly one pick per stratum; change ``salt`` for
an independent sample; rerun/retry/engine reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hope_graph_builder_spark.functions.sqltext import dbl
from hope_graph_builder_spark.operators.dedup import hash60


def join_uniform_sample(
    a: DataFrame,
    b: DataFrame,
    on: str,
    k: int,
    id_a: str,
    id_b: str,
    salt: str = "js0",
    n_buckets: int | str = 64,
) -> DataFrame:
    """k pairs sampled uniformly (systematic-stratified, deterministic
    by ``salt``) from the equi-join ``a ⋈ b ON on`` — WITHOUT
    materializing the join. Output: ``(idx, on, id_a, id_b)``, one row
    per sampled pair, ``idx`` the global pair index (sorted output =
    the reproducible sample order). If the join has ≤ k pairs the full
    join is returned (idx still assigned).

    Cost shape: two map-side-combined counts, one tiny bucket-offset
    window (≤ ``n_buckets`` rows; per-key offsets bucket-decomposed —
    no unpartitioned window over the key table), ONE aggregate action
    for the total pair count P, then k broadcast range-probes and two
    (key, rank) equi-joins against the ≤ k sampled keys (both sides
    pre-filtered by a broadcast semi-join before their rank windows —
    the corpus is never globally sorted). ``ca·cb`` per key and P ride
    64-bit ints: fine to ~9·10¹⁸ pairs.

    The key column must be a scalar (string/int) — it is hashed for
    bucket placement and ordered for the offset prefix (any total
    order works; the ORDER defines the bijection, not the
    distribution).

    ``n_buckets`` is the parallelism of the per-bucket offset sort —
    the op's only ceiling at scale (the key table sorts within
    buckets, so 64 buckets cap that sort at 64-way). It is ALSO a
    bijection parameter: bucket assignment participates in the key
    order, so a different ``n_buckets`` draws a (still exactly
    uniform) DIFFERENT sample — it cannot be silently auto-raised
    under a caller. Pass ``n_buckets="auto"`` to derive it from the
    measured key count (max(64, keys // 10⁶), capped 65536 — ≥64-way
    and ~10⁶ keys per sort bucket; costs one extra count action);
    the floor keeps auto == 64 on any sub-64M-key input, so existing
    fixed-``n_buckets`` results are reproduced there."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = a.sparkSession
    ca = a.groupBy(on).agg(F.count(F.lit(1)).alias("_ca"))
    cb = b.groupBy(on).agg(F.count(F.lit(1)).alias("_cb"))
    if n_buckets == "auto":
        n_keys = ca.join(cb, on).count()
        n_buckets = max(64, min(65536, n_keys // 1_000_000))
    elif not isinstance(n_buckets, int) or n_buckets < 1:
        raise ValueError(f"n_buckets must be a positive int or 'auto', got {n_buckets!r}")
    keys = (
        ca.join(cb, on)
        .withColumn("_p", (F.col("_ca") * F.col("_cb")).cast("long"))
        .withColumn(
            "_kb",
            F.pmod(hash60(F.col(on).cast("string")), F.lit(n_buckets)).cast("int"),
        )
    )
    boff = (
        keys.groupBy("_kb")
        .agg(F.sum("_p").alias("_bp"))
        .withColumn(
            "_boff",
            F.coalesce(
                F.sum("_bp").over(
                    Window.orderBy("_kb").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .select("_kb", "_boff")
    )
    keys = (
        keys.join(F.broadcast(boff), "_kb")
        .withColumn(
            "_woff",
            F.coalesce(
                F.sum("_p").over(
                    Window.partitionBy("_kb")
                    .orderBy(on)
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("_off", F.col("_boff") + F.col("_woff"))
        .select(on, "_kb", "_ca", "_cb", "_p", "_off")
    )
    total = int(keys.agg(F.sum("_p")).collect()[0][0] or 0)  # the ONE action

    if total <= k:
        # tiny result: the full join IS the sample
        full = a.select(on, F.col(id_a)).join(b.select(on, F.col(id_b)), on)
        w = Window.orderBy(on, id_a, id_b)
        return full.withColumn("idx", (F.row_number().over(w) - 1).cast("long")) \
                   .select("idx", on, id_a, id_b)

    # stratum bounds floor(j·P/k) in overflow-safe integer form:
    # j·P overflows a long for P near 2^63, but with P = q·k + r,
    # floor(jP/k) = j·q + (j·r) div k and j·r < k² stays in range
    # for any practical k
    q, r = total // k, total % k
    j = F.col("id")
    lo = (j * q + F.expr(f"(id * {r}) div {k}")).cast("long")
    hi = ((j + 1) * q + F.expr(f"((id + 1) * {r}) div {k}")).cast("long")
    idx = spark.range(k).select(
        (
            lo
            + F.pmod(
                hash60(F.concat(F.lit(salt + "#"), j.cast("string"))), hi - lo
            )
        ).alias("_pos")
    )

    # bucket-assign each index via the tiny collected offsets table
    # (n_buckets rows — deliberate), then find its containing key with
    # the as-of machinery: latest key offset <= index, per bucket —
    # a partitioned sort, never a nested-loop probe over the key table
    bspans = sorted(
        (int(row["_boff"]), row["_kb"]) for row in boff.collect()
    )
    kb_expr = None
    for off, kb in reversed(bspans):  # largest offset FIRST: the
        cond = F.col("_pos") >= F.lit(off)  # chained when()s test in
        kb_expr = (                         # order, first match wins
            F.when(cond, F.lit(kb))
            if kb_expr is None
            else kb_expr.when(cond, F.lit(kb))
        )
    from hope_graph_builder_spark.operators.temporal import asof_join

    probes = asof_join(
        idx.withColumn("_kb", kb_expr.cast("int")),
        keys.select(
            "_kb", F.col("_off").alias("_pos"), on, "_cb", "_off"
        ),
        by="_kb",
        ts="_pos",
        payload=[on, "_cb", "_off"],
        prefix="s_",
    )
    hits = probes.select(
        F.col("_pos").alias("idx"),
        F.col(f"s_{on}").alias(on),
        F.expr("(_pos - `s__off`) div `s__cb`").cast("long").alias("_ia"),
        F.pmod(F.col("_pos") - F.col("s__off"), F.col("s__cb"))
        .cast("long")
        .alias("_ib"),
    )
    skeys = hits.select(on).distinct()
    ra = (
        a.join(F.broadcast(skeys), on, "left_semi")
        .withColumn(
            "_ia",
            (F.row_number().over(Window.partitionBy(on).orderBy(id_a)) - 1).cast(
                "long"
            ),
        )
        .select(on, "_ia", id_a)
    )
    rb = (
        b.join(F.broadcast(skeys), on, "left_semi")
        .withColumn(
            "_ib",
            (F.row_number().over(Window.partitionBy(on).orderBy(id_b)) - 1).cast(
                "long"
            ),
        )
        .select(on, "_ib", id_b)
    )
    return (
        hits.join(ra, [on, "_ia"]).join(rb, [on, "_ib"])
        .select("idx", on, id_a, id_b)
    )


def pip_rect_uniform_sample(
    points: DataFrame,
    rects: DataFrame,
    k: int,
    res: int,
    x: str = "x",
    y: str = "y",
    point_id: str = "doc_id",
    rect_id: str = "layer",
    oversample: int = 4,
    salt: str = "ps0",
) -> DataFrame:
    """Uniform sample of (up to) ``k`` TRUE point-in-rectangle pairs
    without materializing the spatial join — the spatial range-join
    sampling shape (ICDE'25 line): the candidate space is the cell
    equi-join's pair grid (each (point, rect) candidate appears
    EXACTLY once because a point has one cell at ``res``), sampled by
    join_uniform_sample, then containment-refined (rejection), then
    ``k`` of the accepted picked in SALTED-HASH order — hash order is
    independent of the cell layout, so the truncation cannot bias the
    sample toward low-offset cells the way taking the first k by pair
    index would. Output: ``(idx, point_id, rect_id)``.

    Returns fewer than ``k`` rows only when the acceptance rate drops
    below ``1/oversample`` (the rate is the true-containment share of
    the cell-cover candidates — pick ``res`` so cells are no larger
    than typical rects and it stays well above 1/2; raise
    ``oversample`` otherwise). Cost on top of join_uniform_sample:
    two id-equi joins for the k·oversample sampled candidates and one
    ordering window over those ≤ k·oversample rows."""
    from hope_graph_builder_spark.operators.spatial_join import (
        CELL,
        with_cover_cells,
        with_point_cell,
    )

    p = with_point_cell(points, x, y, res).select(CELL, point_id)
    g = with_cover_cells(rects, "minx", "miny", "maxx", "maxy", res).select(
        CELL, rect_id
    )
    cand = join_uniform_sample(
        p, g, CELL, k * oversample, id_a=point_id, id_b=rect_id, salt=salt
    )
    att = (
        cand.join(points.select(point_id, x, y), point_id)
        .join(rects.select(rect_id, "minx", "miny", "maxx", "maxy"), rect_id)
    )
    acc = att.filter(
        (F.col(x) >= F.col("minx")) & (F.col(x) < F.col("maxx"))
        & (F.col(y) >= F.col("miny")) & (F.col(y) < F.col("maxy"))
    )
    w = Window.orderBy(
        hash60(F.concat(F.lit(salt + "!"), F.col("idx").cast("string"))), "idx"
    )
    return (
        acc.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select("idx", point_id, rect_id)
    )


def dwithin_uniform_sample(
    points: DataFrame,
    segments: DataFrame,
    dist: float,
    k: int,
    res: int,
    x: str = "x",
    y: str = "y",
    point_id: str = "doc_id",
    seg_id: str = "edge_id",
    oversample: int = 8,
    salt: str = "ds0",
) -> DataFrame:
    """Uniform sample of (up to) ``k`` TRUE DWithin(dist) pairs — the
    range-join twin of pip_rect_uniform_sample (the ICDE'25 title
    case): candidates are the dilated-cover cell equi-join's pair grid
    (exactly-once per pair — the point has one cell), sampled without
    materialization, refined by exact point-segment distance², and cut
    to ``k`` in salted-hash order. Output: ``(idx, point_id, seg_id)``.

    Acceptance here is the dist-band share of a cell — LOWER than the
    PIP case (a 30 m band in a 256 m cell accepts ~¼ or less), hence
    the larger default ``oversample``; pick ``res`` so the cell size
    is within ~2–8× of ``dist`` and raise ``oversample`` until the
    returned count reaches ``k``."""
    from hope_graph_builder_spark.operators.spatial_join import (
        CELL,
        _dist2_sql,
        with_dist_cover,
        with_point_cell,
    )

    g = with_dist_cover(segments, dist, res).select(CELL, seg_id)
    p = with_point_cell(points, x, y, res).select(CELL, point_id)
    cand = join_uniform_sample(
        p, g, CELL, k * oversample, id_a=point_id, id_b=seg_id, salt=salt
    )
    att = (
        cand.join(points.select(point_id, x, y), point_id)
        .join(segments.select(seg_id, "x1", "y1", "x2", "y2"), seg_id)
    )
    acc = att.filter(f"{_dist2_sql(x, y)} <= {dbl(dist * dist)}")
    w = Window.orderBy(
        hash60(F.concat(F.lit(salt + "!"), F.col("idx").cast("string"))), "idx"
    )
    return (
        acc.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select("idx", point_id, seg_id)
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "ws0",
    n_buckets: int = 64,
) -> DataFrame:
    """``k`` draws with probability ∝ integer ``weight_col`` — the
    token-mass sampling a training-mixture builder runs ("sample
    documents by token count so the sample's token distribution
    matches the corpus"), deterministic (no rand(): systematic strata
    over the cumulative-weight axis at salted-hash offsets, the same
    machinery as join_uniform_sample). One output row per DRAW
    (``idx`` = the sampled weight-space position): a document whose
    weight spans multiple strata is legitimately drawn multiple times
    — with-replacement-like semantics; ``groupBy(id).count()`` gives
    multiplicities. Zero/negative weights are never drawn.

    Cost shape: one map pass for buckets, bucket-decomposed prefix
    offsets (the only unpartitioned window is over ≤ ``n_buckets``
    rows), ONE aggregate action for total weight W, then k probes
    through the per-bucket as-of containment — never a sort or
    nested-loop over the full table."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = df.sparkSession
    d = df.filter(F.col(weight_col) > 0).select(
        F.col(id_col),
        F.col(weight_col).cast("long").alias("_w"),
        F.pmod(hash60(F.col(id_col).cast("string")), F.lit(n_buckets))
        .cast("int")
        .alias("_kb"),
    )
    boff = (
        d.groupBy("_kb")
        .agg(F.sum("_w").alias("_bw"))
        .withColumn(
            "_boff",
            F.coalesce(
                F.sum("_bw").over(
                    Window.orderBy("_kb").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .select("_kb", "_boff")
    )
    rows = (
        d.join(F.broadcast(boff), "_kb")
        .withColumn(
            "_woff",
            F.coalesce(
                F.sum("_w").over(
                    Window.partitionBy("_kb")
                    .orderBy(id_col)
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("_off", F.col("_boff") + F.col("_woff"))
        .select(id_col, "_kb", "_w", "_off")
    )
    total = int(rows.agg(F.sum("_w")).collect()[0][0] or 0)  # the ONE action
    if total == 0:
        return rows.select(
            F.lit(None).cast("long").alias("idx"), id_col
        ).limit(0)

    q, r = total // k, total % k
    j = F.col("id")
    lo = (j * q + F.expr(f"(id * {r}) div {k}")).cast("long")
    hi = ((j + 1) * q + F.expr(f"((id + 1) * {r}) div {k}")).cast("long")
    idx = spark.range(k).select(
        F.when(
            hi > lo,
            lo
            + F.pmod(
                hash60(F.concat(F.lit(salt + "#"), j.cast("string"))), hi - lo
            ),
        ).alias("_pos")
    ).filter(F.col("_pos").isNotNull())  # W < k: empty strata skipped

    bspans = sorted((int(row["_boff"]), row["_kb"]) for row in boff.collect())
    kb_expr = None
    for off, kb in reversed(bspans):  # largest offset first; chained
        cond = F.col("_pos") >= F.lit(off)  # when()s test in order
        kb_expr = (
            F.when(cond, F.lit(kb))
            if kb_expr is None
            else kb_expr.when(cond, F.lit(kb))
        )
    from hope_graph_builder_spark.operators.temporal import asof_join

    probes = asof_join(
        idx.withColumn("_kb", kb_expr.cast("int")),
        rows.select("_kb", F.col("_off").alias("_pos"), id_col, "_off"),
        by="_kb",
        ts="_pos",
        payload=[id_col, "_off"],
        prefix="s_",
    )
    return probes.select(
        F.col("_pos").alias("idx"), F.col(f"s_{id_col}").alias(id_col)
    )
