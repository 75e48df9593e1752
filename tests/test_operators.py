"""Operator-level tests: graph CC vs a Python union-find oracle, the
skew valves of the DWithin joins, the cell/xy_id SQL texts vs their
numpy twins, multimodal plumbing and dedup/text sanity."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.operators import dedup, multimodal
from hope_graph_builder_spark.operators.graph import (
    connected_components,
    drop_small_components,
    redensify_ids,
    remove_isolated_nodes,
)

from tests.conftest import SF_TINY


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    pdf = pd.DataFrame({
        "src": [1, 2, 3, 10, 11, 20, 21, 21],
        "dst": [2, 3, 4, 11, 12, 21, 20, 22],
    })
    cc = connected_components(spark.createDataFrame(pdf)).toPandas()
    oracle = _union_find(list(zip(pdf.src, pdf.dst)))
    # canonical label = min id per component in both
    got = dict(zip(cc.id, cc.component))
    assert got == oracle


def test_graph_cleanup_chain(spark):
    pdf = pd.DataFrame({
        "src": [1, 2, 3, 10, 50],
        "dst": [2, 3, 4, 11, 51],
    })
    edges = spark.createDataFrame(pdf)
    cc = connected_components(edges)
    kept = drop_small_components(edges, cc, min_nodes=2)
    # components {10,11} and {50,51} have exactly 2 nodes → dropped
    assert sorted(r.src for r in kept.collect()) == [1, 2, 3]
    nodes = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3, 4, 10, 11, 99]}))
    alive = remove_isolated_nodes(nodes, kept)
    assert sorted(r.id for r in alive.collect()) == [1, 2, 3, 4]
    dense = redensify_ids(alive).toPandas().sort_values("id")
    assert dense.new_id.tolist() == [0, 1, 2, 3]


def test_multimodal_features(spark):
    pages = synth.pages(spark, SF_TINY)
    out = multimodal.extract_features(pages)
    rows = out.limit(5).collect()
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in rows)
    assert all(abs(sum(r.features) - 1.0) < 1e-3 for r in rows)
    assert out.count() == pages.count()
    # deterministic: same input → same features
    r2 = out.limit(5).collect()
    assert [r.features for r in rows] == [r.features for r in r2]


def test_minhash_catches_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [base, base + " ok", "completely different words entirely unrelated content here"],
    })
    pairs = dedup.minhash_dup_pairs(spark.createDataFrame(docs)).collect()
    got = {(r.a, r.b) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_dwithin_salting_preserves_results(spark):
    """dwithin_join salted / profile-hot ≡ unsalted on the synthetic
    hotspot data (the skew those valves exist for)."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark import synth
    from hope_graph_builder_spark.operators.spatial_join import (
        dwithin_join,
        hot_cell_factors,
        with_point_cell,
    )
    from tests.conftest import SF_TINY

    pts = synth.page_points(spark, SF_TINY).select("doc_id", "x", "y")
    edges = synth.page_edges(spark, SF_TINY).select("edge_id", "x1", "y1", "x2", "y2")
    base = dwithin_join(pts, edges, dist=30.0, res=9).select("doc_id", "edge_id")
    cells = with_point_cell(pts, "x", "y", 9).select("_cell").distinct()
    salted = dwithin_join(
        pts, edges, dist=30.0, res=9, hot=cells.withColumn("_k", F.lit(8))
    ).select("doc_id", "edge_id")
    hot = hot_cell_factors(with_point_cell(pts, "x", "y", 9), threshold=5).localCheckpoint()
    hotted = dwithin_join(pts, edges, dist=30.0, res=9, hot=hot).select("doc_id", "edge_id")
    for other in (salted, hotted):
        assert base.exceptAll(other).count() == 0
        assert other.exceptAll(base).count() == 0
    assert base.count() > 0


def test_dedup_clusters_transitive_and_singletons(spark):
    from hope_graph_builder_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    docs = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, base),        # near/exact dups
         (10, "completely different content about spark engines " * 8),
         (11, "completely different content about spark engines " * 8),  # dup pair
         (20, "a lone unique document with its own words entirely " * 6)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.dedup_clusters(docs).collect()}
    assert out[1].cluster_id == 1 and out[3].cluster_id == 1
    assert out[2].cluster_id == 1  # transitive via shared buckets
    assert out[10].cluster_id == 10 and out[11].cluster_id == 10
    assert out[20].cluster_id == 20 and out[20].keep
    keeps = [d for d, r in out.items() if r.keep]
    assert sorted(keeps) == [1, 10, 20]
    # exactly one canonical per cluster
    clusters = {r.cluster_id for r in out.values()}
    assert len(keeps) == len(clusters)


def test_repetition_signals_hand_cases(spark):
    from hope_graph_builder_spark.operators import text as textops
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "a a a b"),            # 4 tokens, 2 distinct → dup_tok 0.5
         (2, "x y x y x y"),        # bigrams: xy,yx,xy,yx,xy → 5 total 2 distinct
         (3, "all words unique here"),
         (4, "w"),                  # 1 token → bigram/trigram ratios 0
         (5, "")],
        "doc_id long, text string",
    )
    t = F.col("text")
    out = {r.doc_id: r for r in docs.select(
        "doc_id",
        textops.dup_ngram_ratio(t, 1).alias("r1"),
        textops.dup_ngram_ratio(t, 2).alias("r2"),
        textops.repetition_flags(t).alias("ok"),
    ).collect()}
    assert out[1].r1 == 0.5
    assert abs(out[2].r2 - 3.0 / 5.0) < 1e-15
    assert out[3].r1 == 0.0 and out[3].ok
    assert out[4].r2 == 0.0 and out[4].ok
    assert out[5].r1 == 0.0
    assert not out[2].ok  # looped text fails the bigram gate


def test_webtext_trigram_vs_marker_disagreement(spark):
    """A doc whose marker-word score says 'de' (it contains ' der und
    die ' once, no en marker words) but whose trigram profile hits say
    'en' (the body is English): the v2 pipeline must follow the
    TRAINED trigram classifier, not the marker heuristic."""
    from pyspark.sql import Row

    from hope_graph_builder_spark.operators import text as textops
    from hope_graph_builder_spark.operators.extract import markup_pages
    from hope_graph_builder_spark.pipelines.webtext import run_webtext_ingest

    train = spark.createDataFrame([
        Row(doc_id=1, text="quick brown fox jumps over lazy dog rain falls "
                           "green field wind north quick brown fox jumps lazy dog",
            lang="en"),
        Row(doc_id=2, text="der hund und die katze der wald und die sonne "
                           "der regen und die wiese", lang="de"),
    ])
    profiles = textops.train_lang_profiles(train, top_n=64)

    body = "quick brown fox jumps over lazy dog der und die " + " ".join(
        f"field{i} green{i} rain{i} wind{i}" for i in range(30)
    )
    pages = spark.createDataFrame(
        [(1, "https://x.example/1", body, None)],
        "doc_id long, url string, text string, lang string",
    )
    pages = markup_pages(pages)
    # marker heuristic: de markers (der/und/die) = 3 > en markers = 0
    marker = pages.select(textops.lang_id(F.col("text")).alias("m")).first().m
    assert marker == "de"
    out = run_webtext_ingest(pages, profiles=profiles).first()
    assert out.lang_pred == "en"  # trigram hits overwhelm the markers
    assert out.keep  # rich varied text passes both gates


def test_dwithin_polyline_matches_bruteforce(spark):
    """dwithin_polyline_join (segment explode → cell join → refine →
    min agg) ≡ the brute-force cross-join min over every segment; the
    salted variant is identical too."""
    from hope_graph_builder_spark.operators.spatial_join import (
        dwithin_polyline_join,
        point_segment_dist2,
        with_point_cell,
    )

    pts = synth.page_points(spark, SF_TINY).select("doc_id", "x", "y").limit(200)
    pl = synth.page_polylines(spark, SF_TINY).limit(200)
    out = dwithin_polyline_join(pts, pl, dist=30.0, res=9)
    n = F.size("xs")
    segs = pl.select(
        "edge_id",
        F.explode(F.sequence(F.lit(1), n - 1)).alias("_i"),
        "xs", "ys",
    ).select(
        "edge_id",
        F.element_at("xs", F.col("_i").cast("int")).alias("x1"),
        F.element_at("ys", F.col("_i").cast("int")).alias("y1"),
        F.element_at("xs", (F.col("_i") + 1).cast("int")).alias("x2"),
        F.element_at("ys", (F.col("_i") + 1).cast("int")).alias("y2"),
    )
    brute = (
        segs.crossJoin(pts)
        .withColumn("_d2", point_segment_dist2("x", "y"))
        .groupBy("edge_id", "doc_id")
        .agg(F.min("_d2").alias("min_d2"))
        .filter(F.col("min_d2") <= 900.0)
    )
    assert out.exceptAll(brute).count() == 0
    assert brute.exceptAll(out).count() == 0
    assert out.count() > 0
    hot = with_point_cell(pts, "x", "y", 9).select("_cell").distinct().withColumn("_k", F.lit(4))
    salted = dwithin_polyline_join(pts, pl, dist=30.0, res=9, hot=hot)
    assert salted.exceptAll(out).count() == 0
    assert out.exceptAll(salted).count() == 0


def test_cell_and_xy_id_sql_match_numpy(spark):
    """The SQL cell-id, bbox-cover and xy_id texts agree bit for bit
    with their numpy twins, cell-boundary and half-decimetre ties
    included."""
    from hope_graph_builder_spark.operators.sampling import xy_id_sql
    from hope_graph_builder_spark.spatial import cells

    rng = np.random.RandomState(3)
    x = np.concatenate([[0.0, 255.9999, 256.0, 0.05, 0.15, 131071.99], rng.uniform(0, 131000, 200)])
    y = np.concatenate([[1024.0, 0.25, 1023.99, 0.35, 7.45, 0.0], rng.uniform(0, 131000, 200)])
    w, h = rng.uniform(0, 900, len(x)), rng.uniform(0, 900, len(x))
    df = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(x)), "x": x, "y": y, "w": w, "h": h})
    )
    xy = df.select("i", F.expr(xy_id_sql("x", "y")).alias("xy")).orderBy("i").toPandas()
    want = np.rint(x * 10.0).astype(np.int64) * 10_000_000 + np.rint(y * 10.0).astype(np.int64)
    assert (xy["xy"].to_numpy() == want).all()
    for res in (4, 9, 12):
        got = df.select(
            "i",
            F.expr(cells.cell_id_sql("x", "y", res)).alias("c"),
            F.expr(cells.cover_bbox_sql("x", "y", "x + w", "y + h", res)).alias("cover"),
        ).orderBy("i").toPandas()
        assert (got["c"].to_numpy() == cells.cells_of_points_np(x, y, res)).all()
        for k in range(len(x)):
            want_cover = cells.cover_bbox_np(x[k], y[k], x[k] + w[k], y[k] + h[k], res)
            assert list(got["cover"][k]) == want_cover.tolist(), (res, k)


def test_host_and_domain_extraction(spark):
    """host_expr strips scheme, userinfo, port; lowercases.
    registered_domain_expr = last two labels (documented
    public-suffix approximation)."""
    from hope_graph_builder_spark.operators import web

    rows = [
        ("https://Example.ORG/x", "example.org", "example.org"),
        ("http://a.b.example.net:8080/p?q=1", "a.b.example.net", "example.net"),
        ("https://user:pw@Sub.Host.Org/", "sub.host.org", "host.org"),
        ("https://localhost/x", "localhost", "localhost"),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in rows], "url string")
    got = df.select(
        web.host_expr(F.col("url")).alias("h"),
        web.registered_domain_expr(F.col("url")).alias("d"),
    ).collect()
    for (u, h, d), r in zip(rows, got):
        assert r.h == h, (u, r.h)
        assert r.d == d, (u, r.d)


def test_simhash_pairs_exact_recall_and_refusal(spark):
    """4-band Hamming index == brute-force all-pairs popcount at
    radius 3 (the pigeonhole guarantee); radii beyond the guarantee
    refuse instead of silently under-recalling."""
    import pytest as _pytest

    docs = synth.pages(spark, SF_TINY).select("doc_id", F.col("text"))
    dup = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup)
    got = dedup.simhash_dup_pairs(corpus, max_hamming=3)
    sh = corpus.select(
        F.col("doc_id").alias("_id"), dedup.simhash(F.col("text"), bits=63).alias("sh")
    )
    x = sh.select(F.col("_id").alias("a"), F.col("sh").alias("sa"))
    y = sh.select(F.col("_id").alias("b"), F.col("sh").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    brute = (
        x.crossJoin(y).filter(F.col("a") < F.col("b"))
        .filter(ham <= 3)
        .select("a", "b", ham.cast("int").alias("hamming"))
    )
    assert got.exceptAll(brute).count() == 0
    assert brute.exceptAll(got).count() == 0
    # injected exact copies must appear at hamming 0
    assert got.filter((F.col("b") - F.col("a") == 50000) & (F.col("hamming") == 0)).count() > 0
    with _pytest.raises(ValueError, match="exact-recall"):
        dedup.simhash_dup_pairs(corpus, max_hamming=4)


def test_minhash_fast_hash_mode(spark):
    """The xxhash64 production mode of the MinHash path: exact
    duplicates are guaranteed to cluster under ANY hash family
    (identical shingle sets → identical signatures → same buckets),
    and unrelated docs stay apart; 'md5' stays the oracle mode."""
    import pytest as _pytest

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " tail"),
         (10, "completely different content about spark engines " * 8)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.dedup_clusters(docs, hash="xx").collect()}
    assert out[1].cluster_id == out[2].cluster_id == 1
    assert out[3].cluster_id == 1  # near-dup still collides
    assert out[10].cluster_id == 10
    with _pytest.raises(ValueError, match="unknown hash"):
        dedup.minhash_signature(docs, hash="nope")


def test_star_pairs_component_equivalent(spark):
    """The giant-cluster valve: minhash_star_pairs emits per-bucket
    STAR edges (member → bucket-min hub) instead of the bucket clique.
    Reachability within a bucket is identical (every member connects
    through the hub), so connected components — and therefore
    dedup_clusters output — must EQUAL the clique-pair result, while
    the edge count stays linear in bucket size."""
    docs = synth.pages(spark, SF_TINY).select("doc_id", "text").limit(120)

    clique = dedup.minhash_dup_pairs(docs)
    star = dedup.minhash_star_pairs(docs)
    n_clique, n_star = clique.count(), star.count()
    assert n_star <= n_clique  # star never exceeds the clique

    uf = _union_find([(r.a, r.b) for r in clique.collect()])
    comp_star = {
        r.doc_id: r.cluster_id for r in dedup.dedup_clusters(docs).collect()
    }
    for doc, root in uf.items():
        assert comp_star[doc] == root  # same components, same min-id labels
    # docs outside any candidate pair are their own singleton cluster
    for doc, cid in comp_star.items():
        if doc not in uf:
            assert cid == doc


def test_star_pairs_linear_on_giant_cluster(spark):
    """A 60-copy duplicate cluster: the clique pair list is C(60,2) =
    1770 pairs, the star list is 59 — the quadratic-vs-linear gap that
    OOMs executors at web scale (100k-copy boilerplate buckets)."""
    base = "identical boilerplate page body repeated verbatim " * 8
    docs = spark.createDataFrame(
        [(i, base) for i in range(60)], "doc_id long, text string"
    )
    assert dedup.minhash_dup_pairs(docs).count() == 1770
    assert dedup.minhash_star_pairs(docs).count() == 59
    out = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(docs).collect()}
    assert set(out.values()) == {0}  # one cluster, labeled by the min id


def test_line_dedup_c4_semantics(spark):
    """Corpus-wide keep-first line dedup: the boilerplate line is kept
    only at its first (doc_id, pos) occurrence; lines under min_chars
    are exempt everywhere (including intra-doc repeats); a doc whose
    every line is removed comes back as an empty string with the full
    removal count."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta\ncookie banner text\nunique one"),
            (2, "cookie banner text\nunique two\nok"),
            (3, "unique three\ncookie banner text"),
            (4, ""),
            (5, "ok\nok\nalpha beta"),
            (6, "cookie banner text"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.line_dedup(docs, min_chars=3).collect()}
    assert out[1].clean_text == "alpha beta\ncookie banner text\nunique one"
    assert (out[1].n_lines, out[1].n_removed) == (3, 0)
    assert out[2].clean_text == "unique two\nok"  # dup banner dropped
    assert out[3].clean_text == "unique three"
    assert out[4].clean_text == "" and out[4].n_removed == 0  # '' exempt (len 0 < 3)
    assert out[5].clean_text == "ok\nok"  # short 'ok' exempt even repeated
    assert out[5].n_removed == 1  # 'alpha beta' first seen in doc 1
    assert out[6].clean_text == "" and out[6].n_removed == 1  # fully boilerplate


def test_line_dedup_min_chars_zero_pure(spark):
    """min_chars=0 is the pure rule: EVERY duplicate line (even empty
    ones) collapses to its first occurrence."""
    docs = spark.createDataFrame(
        [(1, "x\n\ny"), (2, "x\n\nz")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.line_dedup(docs).collect()}
    assert out[1].clean_text == "x\n\ny" and out[1].n_removed == 0
    assert out[2].clean_text == "z" and out[2].n_removed == 2


def test_pii_scrub(spark):
    """Email → IPv4 → phone redaction with per-stage counts; the
    dotted-quad prefix false positive ('1.2.3.4' out of '1.2.3.4.5')
    is pinned deliberately — identical in both regex engines."""
    from hope_graph_builder_spark.operators import pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@x-corp.io. thanks"),
            (2, "server 10.0.0.1 and backup 192.168.255.254"),
            (3, "call +49 30 901820 or +1 555 010 4321"),
            (4, "no pii here"),
            (5, "version 1.2.3.4.5 tagged"),
            (6, "u@example.org logs 8.8.8.8 tel 555-123-4567"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii.with_pii_scrubbed(docs).collect()}
    assert out[1].clean_text == "mail me at <EMAIL>. thanks"
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 0, 0)
    assert out[2].clean_text == "server <IP> and backup <IP>"
    assert out[2].n_ips == 2
    assert out[3].clean_text == "call <PHONE> or <PHONE>"
    assert out[3].n_phones == 2
    assert out[4].clean_text == "no pii here"
    assert (out[4].n_emails, out[4].n_ips, out[4].n_phones) == (0, 0, 0)
    assert out[5].clean_text == "version <IP>.5 tagged"  # documented FP shape
    assert out[6].clean_text == "<EMAIL> logs <IP> tel <PHONE>"
    assert (out[6].n_emails, out[6].n_ips, out[6].n_phones) == (1, 1, 1)


def test_url_canonical_and_dedup(spark):
    """Every canonicalization rule fires somewhere: scheme+host case,
    userinfo, default vs explicit port, fragment, trailing slash,
    non-http scheme passthrough, relative input."""
    from hope_graph_builder_spark.operators import web

    cases = [
        (0, "HTTP://Example.COM:80/a/5/", "http://example.com/a/5"),
        (1, "http://example.com/a/5", "http://example.com/a/5"),
        (2, "https://Example.com:443/b?q=7#frag9", "https://example.com/b?q=7"),
        (3, "https://user@example.com/b?q=7", "https://example.com/b?q=7"),
        (4, "http://example.com:8080/x/", "http://example.com:8080/x"),
        (5, "ftp://Host.Example/Path", "ftp://host.example/Path"),
        (6, "/relative/path#x", "/relative/path"),
        (7, "https://example.com/", "https://example.com"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "doc_id long, url string"
    )
    got = {
        r.doc_id: r.c
        for r in df.select(
            "doc_id", web.url_canonical_expr(F.col("url")).alias("c")
        ).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)

    dd = {r.doc_id: r for r in web.url_dedup(df).collect()}
    assert dd[0].keep and not dd[1].keep  # 0 and 1 collide, min id wins
    assert dd[0].n_dups == 2 and dd[1].n_dups == 2
    assert dd[2].keep and not dd[3].keep
    assert all(dd[i].keep for i in (4, 5, 6, 7))  # singletons


def test_hash_sample_deterministic_and_consistent(spark):
    """Hash sampling: rerun-identical, roughly rate-sized, and
    CONSISTENT across tables — the same key samples in or out
    everywhere, so sampled tables still join."""
    from hope_graph_builder_spark.operators import corpus

    a = synth.pages(spark, SF_TINY).select("doc_id", "lang")
    s1 = {r.doc_id for r in corpus.hash_sample(a, rate=0.3).collect()}
    s2 = {r.doc_id for r in corpus.hash_sample(a, rate=0.3).collect()}
    assert s1 == s2  # deterministic
    n = a.count()
    assert 0.15 * n < len(s1) < 0.45 * n  # ~rate, generous band
    other = a.select("doc_id")  # a second "table" with the same key
    s3 = {r.doc_id for r in corpus.hash_sample(other, rate=0.3).collect()}
    assert s1 == s3  # cross-table consistency
    s4 = {r.doc_id for r in corpus.hash_sample(a, rate=0.3, salt="z9").collect()}
    assert s1 != s4  # salt decorrelates


def test_pack_token_budget_equals_global_prefix(spark):
    """The two-phase bucketed prefix sum must reproduce the naive
    global-order greedy prefix exactly, cum_tokens included."""
    from hope_graph_builder_spark.operators import corpus

    d = spark.createDataFrame(
        [(i, (i * 37 % 101) / 100.0, i * 13 % 97 + 1) for i in range(300)],
        "doc_id long, quality double, n_tokens long",
    )
    budget = 4000
    got = {
        r.doc_id: r.cum_tokens
        for r in corpus.pack_token_budget(d, budget).collect()
    }
    rows = sorted(d.collect(), key=lambda r: (-r.quality, r.doc_id))
    cum, want = 0, {}
    for r in rows:
        cum += r.n_tokens
        if cum > budget:
            break
        want[r.doc_id] = cum
    assert got == want


def test_ngram_contamination(spark):
    """Docs sharing an n-gram with the benchmark are flagged; short
    docs (< n tokens) report zero grams and are never flagged."""
    from hope_graph_builder_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different words in this training document here"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("eval: the quick brown fox jumps over the lazy dog",)], "text string"
    )
    out = {r.doc_id: r for r in corpus.ngram_contamination(docs, bench, n=5).collect()}
    assert out[1].contaminated and out[1].n_hits >= 1
    assert out[2].contaminated  # shares 'fox jumps over the lazy' etc.
    assert not out[3].contaminated and out[3].n_hits == 0
    assert out[4].n_grams == 0 and not out[4].contaminated
    assert out[3].n_grams == 4  # 8 tokens -> four distinct 5-grams


def test_char_lm_score_backoff(spark):
    """Hand-computed smoothed trigram LM on a 2-char alphabet: seen
    trigram, seen-prefix backoff, unseen-prefix floor, and the <3-char
    NULL row all hit their closed-form values."""
    import math

    from hope_graph_builder_spark.operators import text as t

    train = spark.createDataFrame([(0, "abab")], "doc_id long, text string")
    # trigrams: aba, bab (1 each); prefixes ab,ba (1 each); V={a,b}=2
    lm = t.train_char_lm(train)
    docs = spark.createDataFrame(
        [
            (1, "ababa"),  # aba,bab,aba all seen: lp=ln(2/3) each
            (2, "abb"),    # unseen tri, seen prefix 'ab': ln(1/3)
            (3, "xyz"),    # unseen prefix: ln(1/2)
            (4, "ab"),     # too short
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in t.char_lm_score(docs, lm).collect()}
    assert out[1].n_tri == 3
    assert abs(float(out[1].avg_nll) - round(-math.log(2 / 3), 5)) < 1e-9
    assert abs(float(out[2].avg_nll) - round(-math.log(1 / 3), 5)) < 1e-9
    assert abs(float(out[3].avg_nll) - round(-math.log(1 / 2), 5)) < 1e-9
    assert out[4].n_tri == 0 and out[4].avg_nll is None and out[4].sum_lp is None


def test_host_boilerplate_strip(spark):
    """Banner on 2/3 of host A's pages is stripped EVERYWHERE (unlike
    keep-first line dedup); a one-page host is exempt via min_pages;
    short repeated lines are exempt via min_chars; order preserved."""
    from hope_graph_builder_spark.operators import web

    banner = "accept our cookies please"
    docs = spark.createDataFrame(
        [
            (1, "a.com", f"{banner}\nreal content one\nok"),
            (2, "a.com", f"{banner}\nreal content two"),
            (3, "a.com", "no banner here today"),
            (4, "b.com", f"{banner}\nlonely page content"),
        ],
        "doc_id long, host string, text string",
    )
    out = {
        r.doc_id: r
        for r in web.host_boilerplate_strip(
            docs, min_ratio=0.5, min_pages=2, min_chars=5
        ).collect()
    }
    assert out[1].clean_text == "real content one\nok" and out[1].n_removed == 1
    assert out[2].clean_text == "real content two" and out[2].n_removed == 1
    assert out[3].clean_text == "no banner here today" and out[3].n_removed == 0
    # host b has one page: min_pages gate keeps its banner
    assert out[4].clean_text.startswith(banner) and out[4].n_removed == 0
    # 'ok' is short (< min_chars): exempt from evidence AND never stripped
    assert out[1].n_lines == 3


def test_shard_shuffle_deterministic(spark):
    """Same input → identical (shard, pos) across runs; positions are
    dense 0..k-1 per shard; changing the salt changes the permutation;
    union of shards is the input."""
    from hope_graph_builder_spark.operators import corpus

    d = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = corpus.shard_shuffle(d, 8).collect()
    b = corpus.shard_shuffle(d, 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 200
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(8))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    c = {r.doc_id: (r.shard, r.pos) for r in corpus.shard_shuffle(d, 8, salt="other").collect()}
    amap = {r.doc_id: (r.shard, r.pos) for r in a}
    assert any(amap[i] != c[i] for i in amap)


def test_dup_substring_spans(spark):
    """Planted duplicate passage → merged maximal span with exact
    char accounting; unique docs unflagged; short docs 0 windows;
    stride>1 still catches runs >= k+stride-1; xx mode == md5 mode."""
    from hope_graph_builder_spark.operators import dedup as dd

    shared = "X" * 25  # a 25-char run duplicated across docs 1 and 2
    docs = spark.createDataFrame(
        [
            (1, f"aaa {shared} bbb unique tail one here"),
            (2, f"zzz {shared} qqq other ending two here"),
            (3, "totally unique document with no repeats at all"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dd.dup_substring_spans(docs, k=10).collect()}
    # the maximal shared region is ' ' + 'X'*25 + ' ' (both flanking
    # spaces sit inside cross-doc-identical windows) -> one 27-char span
    assert out[1].n_spans == 1 and out[2].n_spans == 1
    assert out[1].dup_chars == 27 and out[2].dup_chars == 27
    assert out[3].n_dup_windows == 0 and out[3].n_spans == 0
    assert out[4].n_windows == 0 and out[4].dup_chars == 0
    # stride mode: run length 25 >= 10 + 3 - 1 -> still detected
    st = {r.doc_id: r for r in dd.dup_substring_spans(docs, k=10, stride=3).collect()}
    assert st[1].n_dup_windows > 0 and st[3].n_dup_windows == 0
    # production hash mode: identical spans on this fixture
    xx = {r.doc_id: r for r in dd.dup_substring_spans(docs, k=10, hash_method="xx").collect()}
    assert all(
        (xx[i].n_spans, xx[i].dup_chars) == (out[i].n_spans, out[i].dup_chars)
        for i in (1, 2, 3, 4)
    )


def test_review_fix_regressions(spark, monkeypatch):
    """Regression pins for the round-5 review findings: NULL-text
    batch rows survive delta dedup (sentinel digest, dedupe among
    themselves); parse_json_fields output-name collisions raise; the
    curation chunk_uid guard raises on a 20-bit chunk_id overflow
    instead of silently colliding."""
    import pytest
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.operators import dedup as dd
    from hope_graph_builder_spark.operators.web import parse_json_fields
    from hope_graph_builder_spark.pipelines import curation

    # 1. NULL text: rows preserved, NULL==NULL dedupe, never index-dup
    batch = spark.createDataFrame(
        [(1, "real"), (2, None), (3, None)], "doc_id long, text string"
    )
    idx = spark.createDataFrame([("real",)], "t string").select(
        F.md5("t").alias("h")
    )
    out = {r.doc_id: r for r in dd.delta_exact_dedup(batch, idx).collect()}
    assert len(out) == 3
    assert out[1].dup_of_index and not out[1].keep
    assert out[2].keep and not out[2].dup_of_index and not out[2].dup_in_batch
    assert out[3].dup_in_batch and not out[3].dup_of_index and not out[3].keep

    # 2. '.'→'_' output-name collision is loud
    d = spark.createDataFrame([(1, '{"a": {"b": 1}}')], "id long, props string")
    with pytest.raises(ValueError, match="collision"):
        parse_json_fields(d, "props", {"a.b": "int", "a_b": "string"})

    # 3. chunk_uid overflow raises (shrink the shift so a small doc trips it)
    monkeypatch.setattr(curation, "_CHUNK_UID_SHIFT", 2)
    docs = spark.createDataFrame(
        [(1, "s", " ".join(f"w{i} of the and to be have that with ok" for i in range(30)))],
        "doc_id long, source string, text string",
    )
    with pytest.raises(Exception, match="chunk_id overflows"):
        curation.run_corpus_curation(
            docs, quota_per_source=10, token_budget=10**6, seq_len=4,
            overlap=0, n_shards=2, gate_cols=["ok_word_count"],
        ).collect()


def test_strip_dup_spans_random_brute_force(spark):
    """Randomized cross-check (seeded, one Spark job): 80 short
    strings over a 2-letter alphabet — dense window collisions,
    heavy island merging, spans at every boundary — against an
    independent brute-force Python implementation of flag → island →
    excise, for both the audit stats and the cleaned bytes."""
    import random
    from collections import Counter

    from hope_graph_builder_spark.operators import dedup as dd

    rng = random.Random(7)
    k = 5
    texts = {
        i: "".join(rng.choice("ab") for _ in range(rng.randint(0, 40)))
        for i in range(80)
    }

    cnt = Counter()
    for t in texts.values():
        for i in range(len(t) - k + 1):
            cnt[t[i:i + k]] += 1
    want = {}
    for d, t in texts.items():
        flagged = [i for i in range(len(t) - k + 1) if cnt[t[i:i + k]] > 1]
        spans = []
        for p in flagged:
            if spans and p <= spans[-1][1] + k:  # operator: new iff pos > lag + k
                spans[-1][1] = p
            else:
                spans.append([p, p])
        spans = [(s, e + k - 1) for s, e in spans]
        clean, prev = [], 0
        for s, e in spans:
            clean.append(t[prev:s])
            prev = e + 1
        clean.append(t[prev:])
        want[d] = ("".join(clean), len(spans), sum(e - s + 1 for s, e in spans))

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.doc_id: r for r in dd.strip_dup_spans(docs, k=k).collect()}
    assert len(got) == len(texts)
    for d in texts:
        assert (got[d].text, got[d].n_removed_spans, got[d].removed_chars) \
            == want[d], (d, texts[d])
    audit = {r.doc_id: r for r in dd.dup_substring_spans(docs, k=k).collect()}
    for d in texts:
        assert (audit[d].n_spans, audit[d].dup_chars) == want[d][1:], d


def test_chunk_tokens_random_brute_force(spark):
    """Randomized cross-check: chunk grids over random whitespace-laden
    texts vs an independent Python slicer, for three (seq_len,
    overlap) shapes in one job each."""
    import random

    from hope_graph_builder_spark.operators import corpus

    rng = random.Random(11)
    texts = {
        i: " ".join(
            "".join(rng.choice("xyz") for _ in range(rng.randint(1, 4)))
            for _ in range(rng.randint(0, 30))
        ) + rng.choice(["", " ", "  "])
        for i in range(60)
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    for seq_len, overlap in ((4, 0), (5, 2), (7, 6)):
        stride = seq_len - overlap
        want = {}
        for d, t in texts.items():
            toks = [w for w in t.split(" ") if w]
            chunks = []
            for ci, s in enumerate(range(0, len(toks), stride)):
                if s != 0 and s + overlap >= len(toks):
                    continue
                c = toks[s:s + seq_len]
                chunks.append((ci, len(c), " ".join(c)))
            want[d] = chunks
        got = {}
        for r in corpus.chunk_tokens(docs, seq_len, overlap).collect():
            got.setdefault(r.doc_id, []).append(
                (r.chunk_id, r.n_tokens, r.chunk_text)
            )
        for d in texts:
            assert sorted(got.get(d, [])) == want[d], (seq_len, overlap, d)


def test_lsh_params():
    """S-curve band picker: bands·rows == k always; monotone — higher
    thresholds never pick fewer rows (sharper curves sit further
    right); the 50%-candidate point (1/b)^(1/r) lands near the
    threshold for large k; invalid args raise."""
    import pytest

    from hope_graph_builder_spark.operators.dedup import lsh_params

    prev_rows = 0
    for t in (0.2, 0.35, 0.5, 0.65, 0.8, 0.95):
        b, r = lsh_params(t, 128)
        assert b * r == 128
        assert r >= prev_rows
        prev_rows = r
        mid = (1.0 / b) ** (1.0 / r)
        assert abs(mid - t) < 0.2, (t, b, r, mid)
    assert lsh_params(0.5, 16)[0] * lsh_params(0.5, 16)[1] == 16
    with pytest.raises(ValueError):
        lsh_params(1.5, 16)
    with pytest.raises(ValueError):
        lsh_params(0.5, 0)


def test_parse_json_fields(spark):
    """Typed JSON extraction tolerance: missing key, malformed JSON
    and uncastable values all yield NULL (ANSI-safe try_cast); nested
    dotted paths resolve; present values come back typed."""
    from hope_graph_builder_spark.operators.web import parse_json_fields

    d = spark.createDataFrame(
        [
            (1, '{"k": 7, "s": "x", "a": {"b": 2.5}}'),
            (2, '{"s": "y"}'),             # k missing
            (3, '{"k": "notanint"}'),      # uncastable
            (4, '{broken'),                # malformed
            (5, None),                     # null bag
        ],
        "id long, props string",
    )
    out = {r.id: r for r in parse_json_fields(
        d, "props", {"k": "int", "s": "string", "a.b": "double"}
    ).collect()}
    assert out[1].k == 7 and out[1].s == "x" and out[1].a_b == 2.5
    assert out[2].k is None and out[2].s == "y"
    assert out[3].k is None
    assert out[4].k is None and out[4].s is None
    assert out[5].k is None


def test_run_corpus_curation(spark):
    """Composed curation chain: deterministic across reruns, dense
    per-shard positions, every emitted doc passes the gate, and a salt
    change re-permutes the stream without changing the chunk set
    (cap/shard both re-keyed) only when the quota doesn't bind —
    here it does, so we assert the weaker contract: same pipeline,
    same salt → byte-identical output."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.operators import text as textops
    from hope_graph_builder_spark.pipelines.curation import run_corpus_curation

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "text")
    gate_cols = [
        "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
        "ok_alpha_words", "ok_bullet_lines", "ok_ellipsis_lines",
        "ok_dup_lines",
    ]
    kw = dict(quota_per_source=4, token_budget=2000, seq_len=16,
              overlap=4, n_shards=4, gate_cols=gate_cols)
    a = sorted(map(tuple, run_corpus_curation(docs, **kw).collect()))
    b = sorted(map(tuple, run_corpus_curation(docs, **kw).collect()))
    assert a == b and len(a) > 0
    # dense 0-based positions within every shard; shard in range
    per = {}
    for shard, pos, *_ in a:
        assert 0 <= shard < 4
        per.setdefault(shard, []).append(pos)
    assert all(sorted(v) == list(range(len(v))) for v in per.values())
    # every emitted doc passes the gate
    emitted = {r[2] for r in a}
    flags = {
        r.doc_id: all(r[c] for c in gate_cols)
        for r in textops.gopher_flags(docs).collect()
    }
    assert all(flags[d] for d in emitted)
    # chunks of one doc reconstruct a prefix-consistent token stream:
    # chunk k starts at stride*k, so overlapping regions agree
    rows1 = sorted((r for r in a if r[2] == next(iter(emitted))),
                   key=lambda r: r[3])
    toks = []
    for _, _, _, chunk_id, n_tokens, chunk_text in rows1:
        ct = chunk_text.split(" ")
        assert len(ct) == n_tokens
        start = 12 * chunk_id  # stride = 16 - 4
        assert toks[start:start + len(ct)] == ct[: max(0, len(toks) - start)]
        toks[start:start + len(ct)] = ct
    assert len(toks) > 0


def test_gopher_flags(spark):
    """Each Gopher rule flips on its own adversarial document while a
    clean document passes all eight; counters are exact."""
    from hope_graph_builder_spark.operators import text as textops

    good_body = " ".join(
        f"word{i} of the and that" for i in range(20)
    )  # 100 words, stopword-rich, alphabetic, no symbols
    docs = spark.createDataFrame(
        [
            (1, good_body),
            (2, "the of short doc"),  # < 50 words
            (3, " ".join("a" for _ in range(25)) + " " +
                " ".join("the of and be to have" for _ in range(10))),  # mean len < 3
            (4, good_body + " " + "#" * 1 + " #### ##### ####"),  # symbols
            (5, " ".join(f"123{i} 456{i}" for i in range(30)) + " the of"),  # digits
            (6, " ".join(f"word{i} blah{i} blip{i} blop{i}" for i in range(25))),  # no stopwords
            (7, "\n".join(f"- bullet{i} the of item row here there now ok go"
                          for i in range(10))),  # all bullet lines
            (8, "\n".join(f"line{i} the of words trail off and fade..."
                          for i in range(10))),  # all ellipsis lines
            (9, good_body + "\n" + "\n".join("same line" for _ in range(9))),  # dup lines
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.gopher_flags(docs).collect()}
    assert out[1].gopher_pass
    assert out[1].n_words == 100 and out[1].n_stop_kinds >= 2
    assert not out[2].ok_word_count and not out[2].gopher_pass
    assert not out[3].ok_mean_word_len
    assert not out[4].ok_symbol_ratio and out[4].n_syms >= 13
    assert not out[5].ok_alpha_words
    assert not out[6].ok_stop_words and out[6].n_stop_kinds == 0
    assert not out[7].ok_bullet_lines and out[7].n_bullet_lines == 10
    assert not out[8].ok_ellipsis_lines and out[8].n_ellipsis_lines == 10
    assert not out[9].ok_dup_lines and out[9].n_dup_lines == 8


def test_webtext_ingest_strip_composition(spark):
    """RefinedWeb-shaped composition: near-dup ingest keep → join the
    extracted text back → exact-substring removal. The license footer
    shared by two otherwise-unrelated KEPT documents — the case
    doc-level MinHash can never catch — is stripped from both; the
    unique document and the unique bodies pass through byte-identical;
    keep flags are untouched by the strip stage."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.operators import dedup as dd
    from hope_graph_builder_spark.operators.extract import extract_text, markup_pages
    from hope_graph_builder_spark.pipelines.webtext import run_webtext_ingest

    # bodies are APERIODIC (every token globally unique, quality rides
    # on token count alone) so the only >= k duplicated run among kept
    # docs is the footer itself; distinct pre-footer endings pin the
    # span start to the footer's leading space
    footer = " copyright footer all rights reserved contact legal team now"
    rich1 = " ".join(f"a{i}q{(i * 3) % 97}" for i in range(100)) + " endone"
    rich2 = " ".join(f"b{i}r{(i * 5) % 89}" for i in range(100)) + " endtwo"
    rich3 = " ".join(f"c{i}s{(i * 7) % 83}" for i in range(100))
    pages = markup_pages(
        spark.createDataFrame(
            [
                (1, "https://a.example/1", rich1 + footer, "en"),
                (2, "https://a.example/2", rich1 + footer, "en"),  # exact dup of 1
                (3, "https://b.example/3", rich2 + footer, "en"),
                (4, "https://c.example/4", rich3, "en"),
            ],
            "doc_id long, url string, text string, lang string",
        )
    )
    ing = run_webtext_ingest(pages)
    kept_ids = sorted(r.doc_id for r in ing.filter("keep").collect())
    assert kept_ids == [1, 3, 4]  # cluster {1,2} keeps its best member
    texts = extract_text(pages).select(
        "doc_id", F.col("extracted_text").alias("text")
    )
    raw = {r.doc_id: r.text for r in texts.collect()}
    kept_docs = texts.join(ing.filter("keep").select("doc_id"), "doc_id")
    out = {r.doc_id: r for r in dd.strip_dup_spans(kept_docs, k=20).collect()}
    # the footer — duplicated across kept docs 1 and 3 — is excised
    assert out[1].text == raw[1].replace(footer, "")
    assert out[3].text == raw[3].replace(footer, "")
    assert out[1].n_removed_spans == 1 and out[1].removed_chars == len(footer)
    # rich1 itself was duplicated only with the DROPPED doc 2, so among
    # kept docs it is unique and survives; doc 4 is untouched
    assert out[4].text == raw[4] and out[4].n_removed_spans == 0


def test_delta_exact_dedup(spark):
    """Rolling-ingest dedup closed-form: index hits, within-batch
    keeper = min id, a doc that is both, row count preserved, and a
    defensively-deduped non-unique index changes nothing."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.operators import dedup as dd

    batch = spark.createDataFrame(
        [(1, "new alpha"), (2, "old one"), (3, "new beta"),
         (4, "new beta"), (5, "old two"), (6, "old one")],
        "doc_id long, text string",
    )
    index = spark.createDataFrame(
        [("old one",), ("old two",)], "t string"
    ).select(F.md5("t").alias("h"))
    out = {r.doc_id: r for r in dd.delta_exact_dedup(batch, index).collect()}
    assert len(out) == 6
    assert out[1].keep and not out[1].dup_of_index and not out[1].dup_in_batch
    assert out[2].dup_of_index and not out[2].dup_in_batch and not out[2].keep
    assert out[3].keep and not out[3].dup_in_batch
    assert out[4].dup_in_batch and not out[4].dup_of_index and not out[4].keep
    assert out[5].dup_of_index and not out[5].keep
    # doc 6: same digest as doc 2 (in-batch, keeper 2) AND in the index
    assert out[6].dup_of_index and out[6].dup_in_batch and not out[6].keep
    # non-unique index through the defensive path: identical flags
    dup_idx = index.union(index)
    out2 = {r.doc_id: r for r in
            dd.delta_exact_dedup(batch, dup_idx, index_unique=False).collect()}
    assert len(out2) == 6
    assert all(
        (out2[i].dup_of_index, out2[i].dup_in_batch, out2[i].keep)
        == (out[i].dup_of_index, out[i].dup_in_batch, out[i].keep)
        for i in out
    )


def test_vocab_topk_and_bpe_pairs(spark):
    """Closed-form vocabulary + BPE pair counts: hand-counted corpus,
    deterministic boundary ties, single-char words contribute no
    pairs, pair weights follow word frequency."""
    from hope_graph_builder_spark.operators import text as textops

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "The the CAT a"), (3, "a b the")],
        "doc_id long, text string",
    )
    v = {r.token: r.cnt for r in textops.vocab_topk(docs, k=10).collect()}
    assert v == {"the": 4, "cat": 2, "a": 2, "sat": 1, "b": 1}
    # k=2 boundary: 'the'(4) then tie cnt=2 -> 'a' beats 'cat' lexically
    top2 = [(r.token, r.cnt) for r in textops.vocab_topk(docs, k=2).collect()]
    assert sorted(top2) == [("a", 2), ("the", 4)]
    # pairs: 'the'×4 -> th,he ×4; 'cat'×2 -> ca,at ×2; 'sat' -> sa,at;
    # 'a'×2 and 'b' single-char -> nothing
    p = {(r.a, r.b): r.cnt for r in textops.bpe_pair_counts(docs).collect()}
    assert p == {("t", "h"): 4, ("h", "e"): 4, ("c", "a"): 2,
                 ("a", "t"): 3, ("s", "a"): 1}
    import pytest
    with pytest.raises(ValueError):
        textops.vocab_topk(docs, k=0)


def test_quota_cap(spark):
    """Two-phase per-group cap == the naive global window in both
    modes, at several bucket counts (1 degenerates to naive), on a
    skewed fixture where one group dwarfs the quota; quota >= group
    size keeps everything; dense 0-based ranks."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.operators import corpus
    from hope_graph_builder_spark.operators.dedup import hash60

    rows = [(i, "big" if i < 900 else f"g{i % 7}", (i % 13) / 12.0)
            for i in range(1000)]
    d = spark.createDataFrame(rows, "doc_id long, src string, q double")

    h = hash60(F.concat(F.col("doc_id").cast("string"), F.lit("#q0")))
    naive_hash = (
        d.withColumn("_h", h)
        .withColumn(
            "grp_rank",
            (F.row_number().over(
                Window.partitionBy("src").orderBy("_h", "doc_id")) - 1
             ).cast("long"),
        )
        .filter(F.col("grp_rank") < 10)
        .drop("_h")
    )
    want = sorted(map(tuple, naive_hash.collect()))
    for nb in (1, 4, 64):
        got = sorted(map(tuple, corpus.quota_cap(
            d, quota=10, by="src", salt="q0", n_buckets=nb).collect()))
        assert got == want, f"hash mode n_buckets={nb}"

    naive_q = (
        d.withColumn(
            "grp_rank",
            (F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("q"), "doc_id")) - 1
             ).cast("long"),
        )
        .filter(F.col("grp_rank") < 3)
    )
    want_q = sorted(map(tuple, naive_q.collect()))
    for nb in (1, 8, 64):
        got_q = sorted(map(tuple, corpus.quota_cap(
            d, quota=3, by="src", quality_col="q", n_buckets=nb).collect()))
        assert got_q == want_q, f"quality mode n_buckets={nb}"

    # quota >= every group size: all rows survive, ranks dense per group
    all_kept = corpus.quota_cap(d, quota=2000, by="src").collect()
    assert len(all_kept) == 1000
    per = {}
    for r in all_kept:
        per.setdefault(r.src, []).append(r.grp_rank)
    assert all(sorted(v) == list(range(len(v))) for v in per.values())

    import pytest
    with pytest.raises(ValueError):
        corpus.quota_cap(d, quota=0, by="src")


def test_strip_dup_spans(spark):
    """Exact-substring removal: the cleaned text byte-for-byte on a
    closed-form fixture — flanking-space maximal spans excised from
    every copy, a fully-duplicated doc collapses to '', a doc with two
    separate duplicated passages loses two spans, unique and sub-k
    docs pass through byte-identical; strip stats equal the audit's
    span stats; xx mode == md5 mode."""
    from hope_graph_builder_spark.operators import dedup as dd

    shared = "X" * 25
    s2 = "abcdefghijklmnopqrstuvwxy"  # 25 distinct chars, no self-repeat
    docs = spark.createDataFrame(
        [
            (1, f"aaa {shared} bbb unique tail one here"),
            (2, f"zzz {shared} qqq other ending two here"),
            (3, "totally unique document with no repeats at all"),
            (4, "tiny"),
            (5, f" {shared} "),
            (6, f"one {s2} gap unique middle part {s2} final"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dd.strip_dup_spans(docs, k=10).collect()}
    assert out[1].text == "aaabbb unique tail one here"
    assert out[2].text == "zzzqqq other ending two here"
    assert out[3].text == "totally unique document with no repeats at all"
    assert out[4].text == "tiny"
    assert out[5].text == "" and out[5].removed_chars == 27
    # doc 6: each ' '+s2+' ' span (27 chars) removed independently
    assert out[6].text == "onegap unique middle partfinal"
    assert out[6].n_removed_spans == 2 and out[6].removed_chars == 54
    assert out[1].n_removed_spans == 1 and out[1].removed_chars == 27
    assert out[3].n_removed_spans == 0 and out[3].removed_chars == 0
    # strip stats are exactly the audit's span stats
    audit = {r.doc_id: r for r in dd.dup_substring_spans(docs, k=10).collect()}
    assert all(
        (out[i].n_removed_spans, out[i].removed_chars)
        == (audit[i].n_spans, audit[i].dup_chars)
        for i in audit
    )
    # production hash mode: identical cleaned bytes on this fixture
    xx = {r.doc_id: r for r in dd.strip_dup_spans(docs, k=10, hash_method="xx").collect()}
    assert all(xx[i].text == out[i].text for i in out)


def test_line_key_xx_mode_equivalence(spark):
    """The 8-byte hash-key production mode ('xx') produces identical
    output to raw-line keys on both line-shuffle operators."""
    from hope_graph_builder_spark.operators import dedup as dd
    from hope_graph_builder_spark.operators import web

    docs = spark.createDataFrame(
        [
            (1, "a.com", "shared banner line here\nunique alpha\nshared banner line here"),
            (2, "a.com", "shared banner line here\nunique beta"),
            (3, "b.com", "shared banner line here\nunique gamma"),
            (4, "b.com", "other content\nunique delta"),
        ],
        "doc_id long, host string, text string",
    )
    for fn, kw in (
        (dd.line_dedup, dict(min_chars=5)),
        (web.host_boilerplate_strip, dict(min_ratio=0.5, min_pages=2, min_chars=5)),
    ):
        raw = sorted(map(tuple, fn(docs, **kw).collect()))
        xx = sorted(map(tuple, fn(docs, key_method="xx", **kw).collect()))
        assert raw == xx, fn.__name__


def test_webtext_ingest_lm_gate(spark):
    """With an lm + ceiling the ingest grows avg_nll and keep
    additionally requires the perplexity gate: a gibberish page whose
    other signals pass is now dropped; the fluent page survives;
    default call (no lm) keeps its original schema."""
    from hope_graph_builder_spark.operators import text as textops
    from hope_graph_builder_spark.operators.extract import markup_pages
    from hope_graph_builder_spark.pipelines.webtext import run_webtext_ingest

    fluent_words = " ".join(
        f"field{i} green{i} rain{i} wind{i} stone{i}" for i in range(25)
    )
    gibberish = " ".join(f"zq{i}xv jwk{i}qz vxq{i}jw" for i in range(30))
    train = spark.createDataFrame(
        [(0, "the quick brown fox " + fluent_words, "en")],
        "doc_id long, text string, lang string",
    )
    lm = textops.train_char_lm(train)
    pages = markup_pages(
        spark.createDataFrame(
            [
                (1, "https://x.example/1", "the quick brown fox " + fluent_words, "en"),
                (2, "https://x.example/2", gibberish, "en"),
            ],
            "doc_id long, url string, text string, lang string",
        )
    )
    base = {r.doc_id: r for r in run_webtext_ingest(pages).collect()}
    assert "avg_nll" not in base[1].asDict()
    out = {
        r.doc_id: r
        for r in run_webtext_ingest(pages, lm=lm, lm_max_nll=3.0).collect()
    }
    assert out[1].avg_nll < out[2].avg_nll
    assert out[1].keep
    assert not out[2].keep and base[2].keep  # only the LM gate drops it
    import pytest

    with pytest.raises(ValueError):
        run_webtext_ingest(pages, lm=lm)


def test_chunk_tokens(spark):
    """Exact chunk grid: stride = seq_len - overlap, short tail kept,
    all-redundant tail suppressed, empty doc emits nothing."""
    import pytest

    from hope_graph_builder_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # 10 tokens
            (2, "a b c"),
            (3, ""),
            (4, "x " * 4),  # trailing spaces dropped -> 4 tokens
        ],
        "doc_id long, text string",
    )
    out = corpus.chunk_tokens(docs, seq_len=4, overlap=2)
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.n_tokens, r.chunk_text) for r in out.collect())
    )
    # doc 1: starts 0,2,4,6,8 but 8+2 >= 10 -> suppressed (tokens t8,t9
    # already covered by the chunk at 6); starts 0,2,4,6
    assert [r for r in rows if r[0] == 1] == [
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t2 t3 t4 t5"),
        (1, 2, 4, "t4 t5 t6 t7"),
        (1, 3, 4, "t6 t7 t8 t9"),
    ]
    # doc 2: 3 tokens -> one short chunk
    assert [r for r in rows if r[0] == 2] == [(2, 0, 3, "a b c")]
    assert not [r for r in rows if r[0] == 3]
    # doc 4: 4 tokens exactly one full chunk; start 2 suppressed (2+2>=4)
    assert [r for r in rows if r[0] == 4] == [(4, 0, 4, "x x x x")]
    with pytest.raises(ValueError):
        corpus.chunk_tokens(docs, seq_len=4, overlap=4)
