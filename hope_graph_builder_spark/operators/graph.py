"""Graph operators re-expressed as DataFrame iterations (reference
§2.8: `/root/reference/src/otp_graph_import/otp_graph_import.py:143-218`).

The reference uses igraph's in-memory SCC decompose to drop small
components (G2), removes isolated nodes (G3) and re-densifies ids
(G4). Here: iterative small-message label propagation with
localCheckpoint per round (lineage cut), then plain joins/windows.

Scale notes: each round is one shuffle on the node id; rounds ≈ graph
diameter (street networks: tens). localCheckpoint keeps the plan from
growing; at cluster scale use reliable checkpoint dirs instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Weak connected components: (id, component) with component = min
    node id in the component. Undirected closure of the edge list.

    Reference twin: igraph decompose (otp_graph_import.py:161-176) —
    the reference uses STRONG mode on a street graph whose edges are
    overwhelmingly paired; weak CC is the distributed re-expression
    (documented deviation for one-way-only subgraphs)."""
    # checkpoint sym BEFORE deriving labels from it: labels self-unions
    # sym, so building it from the un-checkpointed plan re-evaluates the
    # whole upstream edge pipeline two more times (measured;
    # _directed_min_reach always had the checkpoint-first ordering)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .union(sym.select(F.col("b").alias("id")))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    changed = 0
    rounds = 0
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym.b == labels.id, "inner")
            .groupBy("a")
            .agg(F.min("component").alias("nc"))
        )
        new_labels = (
            labels.join(neigh_min, labels.id == neigh_min.a, "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("nc"), F.col("component"))).alias(
                    "component"
                ),
                (F.col("nc") < F.col("component")).alias("_chg"),
            )
        )
        new_labels = new_labels.localCheckpoint()
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        rounds += 1
        if changed == 0:
            break
    # observability for benches (VERDICT r05 #9): the label front moves
    # one hop per round, so star-pair graphs must read 2 propagation
    # rounds + 1 confirming round = 3 here
    connected_components.last_rounds = rounds
    if changed != 0:
        # silent non-convergence would return WRONG components — fail
        # loudly instead (the label front advances one hop per round, so
        # max_iter must cover the graph diameter)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (needs >= graph diameter)"
        )
    return labels


def _directed_min_reach(edges: DataFrame, reverse: bool, max_iter: int) -> DataFrame:
    """labels[v] = min id over {v} ∪ {u : u reaches v} (forward) or
    {u : v reaches u} (reverse) — iterative min-propagation along
    directed edges."""
    a, b = ("src", "dst") if not reverse else ("dst", "src")
    rel = edges.select(F.col(a).alias("a"), F.col(b).alias("b")).distinct().localCheckpoint()
    labels = (
        rel.select(F.col("a").alias("id"))
        .union(rel.select(F.col("b").alias("id")))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        pushed = (
            rel.join(labels, rel.a == labels.id, "inner")
            .groupBy("b")
            .agg(F.min("lbl").alias("nl"))
        )
        new_labels = labels.join(pushed, labels.id == pushed.b, "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce(F.col("nl"), F.col("lbl"))).alias("lbl"),
            (F.col("nl") < F.col("lbl")).alias("_chg"),
        ).localCheckpoint()
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"min-reach propagation did not converge in {max_iter} rounds; "
            "raise max_iter (needs >= directed reach depth)"
        )
    return labels


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 10,
    max_iter: int = 50,
) -> DataFrame:
    """SCC via iterative trim-settle (reference G2 STRONG mode,
    otp_graph_import.py:161): per round compute forward min-reach f and
    backward min-reach b; every vertex with f == b is mutually
    reachable with that min vertex → settled into component f; remove
    settled vertices and repeat. Rounds ≈ depth of the SCC condensation
    chain along min-ids (small for street networks)."""
    # checkpoint BEFORE deriving all_nodes: the self-union would
    # otherwise re-evaluate the caller's edge pipeline twice more when
    # the final left join runs (checkpoint-first ordering, as in
    # connected_components)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    all_nodes = (
        e.select(F.col("src").alias("id")).union(e.select(F.col("dst").alias("id"))).distinct()
    )
    settled = None
    remaining = e
    for _ in range(max_rounds):
        if remaining.limit(1).count() == 0:
            break
        f = _directed_min_reach(remaining, reverse=False, max_iter=max_iter)
        bk = _directed_min_reach(remaining, reverse=True, max_iter=max_iter)
        both = f.join(bk.withColumnRenamed("lbl", "blbl"), "id")
        done = both.filter(F.col("lbl") == F.col("blbl")).select(
            "id", F.col("lbl").alias("component")
        )
        settled = done if settled is None else settled.unionByName(done)
        settled = settled.localCheckpoint()
        # prune: an intra-SCC edge must stay inside one (f, b) class —
        # drop settled endpoints AND class-crossing edges (this is what
        # makes chains converge in O(log) rounds instead of O(n))
        klass = both.select("id", "lbl", "blbl")
        ks = klass.select(
            F.col("id").alias("src"), F.col("lbl").alias("_fs"), F.col("blbl").alias("_bs")
        )
        kd = klass.select(
            F.col("id").alias("dst"), F.col("lbl").alias("_fd"), F.col("blbl").alias("_bd")
        )
        done_ids = done.select("id")
        remaining = (
            remaining.join(done_ids.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(done_ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .join(ks, "src")
            .join(kd, "dst")
            .filter((F.col("_fs") == F.col("_fd")) & (F.col("_bs") == F.col("_bd")))
            .select("src", "dst")
            .localCheckpoint()
        )
    # vertices never settled through edges (isolated after trims) are
    # their own singleton components
    out = all_nodes.join(settled, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    return out


def component_sizes(cc: DataFrame) -> DataFrame:
    """Size histogram (reference logs it, otp_graph_import.py:168-176)."""
    return cc.groupBy("component").agg(F.count("*").alias("n_nodes"))


def drop_small_components(
    edges: DataFrame,
    cc: DataFrame,
    min_nodes: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Keep only edges whose src belongs to a big-enough component
    (reference deletes components ≤ threshold, otp_graph_import.py:178-199)."""
    big = (
        component_sizes(cc)
        .filter(F.col("n_nodes") > min_nodes)
        .select("component")
    )
    keep = cc.join(F.broadcast(big), "component", "inner").select(F.col("id"))
    return (
        edges.join(keep.withColumnRenamed("id", src), src, "inner")
    )


def remove_isolated_nodes(nodes: DataFrame, edges: DataFrame, id_col: str = "id",
                          src: str = "src", dst: str = "dst") -> DataFrame:
    """G3 (otp_graph_import.py:201-208): nodes with degree 0 dropped —
    left-semi join against the union of surviving endpoints."""
    used = (
        edges.select(F.col(src).alias(id_col))
        .union(edges.select(F.col(dst).alias(id_col)))
        .distinct()
    )
    return nodes.join(used, id_col, "left_semi")


def redensify_ids(nodes: DataFrame, id_col: str = "id",
                  partitions: int | None = None) -> DataFrame:
    """G4 (otp_graph_import.py:210-218): dense 0..n-1 ids by old-id
    order, WITHOUT a global single-task sort.

    zipWithIndex-style, DataFrame-native: range-repartition + local
    sort (parallel), then within each sorted partition
    monotonically_increasing_id() is (pid << 33) + local row index —
    so ``mid - min(mid per pid)`` is the local rank and a tiny
    per-partition (count, min) aggregate, cumulated driver-free over
    #partitions rows and broadcast back, yields the global dense id.
    One range shuffle + one map-side-combined stats agg; no stage runs
    on a single task, so G4 survives 100× node counts."""
    P = partitions or max(nodes.sparkSession.sparkContext.defaultParallelism, 2)
    ranged = (
        nodes.repartitionByRange(P, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
        # freeze the non-deterministic mid before it is read twice
        .localCheckpoint()
    )
    stats = ranged.groupBy("_pid").agg(
        F.count("*").alias("_cnt"), F.min("_mid").alias("_min")
    )
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = stats.select(
        "_pid", "_min", F.coalesce(F.sum("_cnt").over(w), F.lit(0)).alias("_off")
    )
    return (
        ranged.join(F.broadcast(offs), "_pid")
        .withColumn("new_id", F.col("_off") + (F.col("_mid") - F.col("_min")))
        .drop("_pid", "_mid", "_min", "_off")
    )
