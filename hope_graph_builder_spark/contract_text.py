"""Contract entries for the training-data-pipeline operators: dedup,
text analysis, multimodal plumbing, web text and corpus shaping.

Oracle twins reproduce the exact same md5-derived hashing and
sequential-fold float arithmetic (validated primitives, oracle.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.contract import register
from hope_graph_builder_spark.operators import dedup, multimodal, text

_H60 = "CAST(('0x' || substr(md5({expr}),1,15)) AS BIGINT)"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# DuckDB twins of the dedup building blocks -------------------------------

_SQL_TOKENS = "list_filter(string_split(lower(text), ' '), x -> x != '')"
_SQL_SHINGLES = f"""
  list_distinct(CASE WHEN len({_SQL_TOKENS}) >= 3
    THEN list_transform(range(1, len({_SQL_TOKENS}) - 1),
                        i -> array_to_string(list_slice({_SQL_TOKENS}, i, i + 2), ' '))
    ELSE [array_to_string({_SQL_TOKENS}, ' ')] END)
"""


def _sql_minhash_sig() -> str:
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> CAST(('0x' || substr(md5(s || ':{j}'),1,15)) AS BIGINT)))"
        for j in range(dedup.NUM_HASHES)
    )
    return f"""
    SELECT doc_id, [{mins}] AS sig
    FROM (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents)
    """


@register(
    "d_exact_dedup",
    """
    SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS cnt
    FROM documents GROUP BY 1
    """,
)
def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


@register(
    "d_minhash_sig",
    f"""
    SELECT doc_id, array_to_string(list_transform(sig, x -> CAST(x AS VARCHAR)), ',') AS sig_str
    FROM ({_sql_minhash_sig()})
    """,
)
def q_minhash_sig(spark, sf_dir):
    sigs = dedup.minhash_signature(_docs(spark, sf_dir))
    return sigs.select(
        "doc_id",
        F.concat_ws(",", F.transform("sig", lambda x: x.cast("string"))).alias("sig_str"),
    )


@register(
    "d_minhash_pairs",
    f"""
    WITH sigs AS ({_sql_minhash_sig()}),
    bb AS (
      SELECT doc_id, b.range AS band,
             md5(array_to_string(list_transform(
                 list_slice(sig, b.range * 4 + 1, b.range * 4 + 4),
                 x -> CAST(x AS VARCHAR)), ',')) AS bucket
      FROM sigs, range(0, {dedup.BANDS}) b
    )
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bb x JOIN bb y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    """,
)
def q_minhash_pairs(spark, sf_dir):
    return dedup.minhash_dup_pairs(_docs(spark, sf_dir))


@register(
    "d_dedup_clusters",
    f"""
    WITH sigs AS ({{sig}}),
    bb AS (
      SELECT doc_id, b.range AS band,
             md5(array_to_string(list_transform(
                 list_slice(sig, b.range * 4 + 1, b.range * 4 + 4),
                 x -> CAST(x AS VARCHAR)), ',')) AS bucket
      FROM sigs, range(0, {{bands}}) b
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bb x JOIN bb y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    members AS (SELECT DISTINCT a AS id FROM sym),
    walk AS (
      WITH RECURSIVE w(id, seed) AS (
        SELECT id, id FROM members
        UNION
        SELECT s.b, w.seed FROM w JOIN sym s ON s.a = w.id
      ) SELECT * FROM w
    ),
    comp AS (SELECT id, min(seed) AS component FROM walk GROUP BY id)
    SELECT d.doc_id,
           coalesce(comp.component, d.doc_id) AS cluster_id,
           coalesce(comp.component, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
    """.format(sig=_sql_minhash_sig(), bands=dedup.BANDS),
)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING (the step the pair list feeds in a real CC
    pipeline): LSH pairs → weak components → min-id cluster label +
    canonical keep flag per document. Oracle: the pair CTE composed
    with the recursive-CTE reachability closure."""
    return dedup.dedup_clusters(_docs(spark, sf_dir))


@register(
    "d_line_dedup",
    """
    WITH d AS (SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents),
    lines AS (
      SELECT doc_id, p.line AS line, p.pos - 1 AS pos FROM (
        SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
               (x, i) -> struct_pack(line := x, pos := i))) AS p
        FROM d)
    ),
    keepers AS (
      SELECT line, min(struct_pack(d := doc_id, p := pos)) AS k
      FROM lines WHERE length(line) >= 10 GROUP BY line
    ),
    kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM lines l LEFT JOIN keepers kk ON l.line = kk.line
      WHERE kk.k IS NULL OR ((kk.k).d = l.doc_id AND (kk.k).p = l.pos)
    ),
    re AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(re.clean_text, '') AS clean_text,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT)
             - coalesce(re.n_kept, 0) AS n_removed
    FROM d LEFT JOIN re USING (doc_id)
    """,
)
def q_line_dedup(spark, sf_dir):
    """C4-style exact line-level dedup (keep-first-occurrence across
    the corpus, short lines exempt). The fixture corpus has no
    newlines, so lines are formed by turning every ' the ' delimiter
    into a newline — plain non-regex replace, identical left-to-right
    non-overlapping semantics in both engines. Oracle replays the
    keeper rule (min (doc_id, pos) struct per line) and the ordered
    reassembly verbatim."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.replace(F.col("text"), F.lit(" the "), F.lit("\n")).alias("text")
    )
    out = dedup.line_dedup(d, min_chars=10)
    return out.select(
        "doc_id", "clean_text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


@register(
    "d_lsh_jaccard_verify",
    f"""
    WITH sigs AS ({_sql_minhash_sig()}),
    bb AS (
      SELECT doc_id, b.range AS band,
             md5(array_to_string(list_transform(
                 list_slice(sig, b.range * 4 + 1, b.range * 4 + 4),
                 x -> CAST(x AS VARCHAR)), ',')) AS bucket
      FROM sigs, range(0, {dedup.BANDS}) b
    ),
    cands AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bb x JOIN bb y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents)
    SELECT a, b,
           round_even(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
    FROM cands JOIN sh sa ON sa.doc_id = cands.a JOIN sh sb ON sb.doc_id = cands.b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.2
    """,
)
def q_lsh_jaccard_verify(spark, sf_dir):
    """The composed scale-path dedup: LSH candidates → exact Jaccard
    verify (candidates only — replaces the quadratic lang-blocked
    self-join of d_ngram_jaccard at 100 TB)."""
    p = dedup.lsh_jaccard_verify(_docs(spark, sf_dir), threshold=0.2)
    return p.select("a", "b", F.bround("jaccard", 6).alias("jaccard"))


def _sql_ngrams(n: int) -> str:
    if n == 1:
        return _SQL_TOKENS
    return (
        f"list_transform(range(1, len({_SQL_TOKENS}) - {n - 2}),"
        f" i -> array_to_string(list_slice({_SQL_TOKENS}, i, i + {n - 1}), ' '))"
    )


def _sql_dup_ratio(n: int) -> str:
    g = _sql_ngrams(n)
    return (
        f"CASE WHEN len({g}) > 0 THEN"
        f" CAST(len({g}) - len(list_distinct({g})) AS DOUBLE)"
        f" / CAST(len({g}) AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
    )


@register(
    "t_repetition",
    f"""
    SELECT doc_id,
           {_sql_dup_ratio(1)} AS dup_tok,
           {_sql_dup_ratio(2)} AS dup_bi,
           {_sql_dup_ratio(3)} AS dup_tri,
           ({_sql_dup_ratio(1)} <= CAST(0.6 AS DOUBLE)
            AND {_sql_dup_ratio(2)} <= CAST(0.4 AS DOUBLE)
            AND {_sql_dup_ratio(3)} <= CAST(0.3 AS DOUBLE)) AS rep_pass
    FROM documents
    """,
)
def q_repetition(spark, sf_dir):
    """Gopher-family repetition signals (duplicate word-n-gram
    fractions, n=1..3) + the composed gate — the boilerplate/looped-
    text filter a CC pipeline runs next to quality_score. Integer-count
    ratios ⇒ the doubles oracle-compare exactly."""
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        text.dup_ngram_ratio(t, 1).alias("dup_tok"),
        text.dup_ngram_ratio(t, 2).alias("dup_bi"),
        text.dup_ngram_ratio(t, 3).alias("dup_tri"),
        text.repetition_flags(t).alias("rep_pass"),
    )


def _sql_simhash_bit(b: int) -> str:
    """DuckDB twin of one 64-bit SimHash majority bit (bits ≥60 come
    from the '#b'-salted hash array — hash60 is only 60 bits wide)."""
    src, shift = ("hs", b) if b < 60 else ("hs2", b - 60)
    return (
        f"CASE WHEN 2 * len(list_filter({src}, h -> (h >> {shift}) & 1 = 1))"
        f" >= len(hs) THEN 1 ELSE 0 END"
    )


def _sql_simhash_hex() -> str:
    """16 hex nibbles, MSB first — DuckDB BIGINT cannot hold bit 63
    (1<<63 overflows), so both engines compare the two's-complement
    hex rendering instead."""
    nibbles = []
    for k in range(16):  # k = 0 is the most significant nibble
        lo = 4 * (15 - k)
        v = " + ".join(f"({_sql_simhash_bit(lo + j)}) * {1 << j}" for j in range(4))
        nibbles.append(f"substr('0123456789abcdef', ({v}) + 1, 1)")
    return " || ".join(nibbles)


@register(
    "d_simhash",
    f"""
    WITH th AS (
      SELECT doc_id,
             list_transform(list_distinct({_SQL_TOKENS}),
                            t -> CAST(('0x' || substr(md5(t),1,15)) AS BIGINT)) AS hs,
             list_transform(list_distinct({_SQL_TOKENS}),
                            t -> CAST(('0x' || substr(md5(t || '#b'),1,15)) AS BIGINT)) AS hs2
      FROM documents
    )
    SELECT doc_id, {_sql_simhash_hex()} AS simhash_hex
    FROM th
    """,
)
def q_simhash(spark, sf_dir):
    """64-bit SimHash (16-bit saturates at web scale — 65k distinct
    values across a 100 TB corpus). The operator returns a signed
    long; the contract compares the hex rendering because DuckDB
    BIGINT cannot form the sign bit."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.lower(F.lpad(F.hex(dedup.simhash(F.col("text"))), 16, "0")).alias("simhash_hex"),
    )


def _sql_simhash63() -> str:
    """63-bit simhash VALUE (bit 63 unused → positive, constructible
    in DuckDB BIGINT arithmetic — the 64-bit form needs the hex detour
    of d_simhash)."""
    return " + ".join(
        f"({_sql_simhash_bit(b)}) * {1 << b}" for b in range(63)
    )


@register(
    "d_simhash_pairs",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 25 = 0
    ),
    th AS (
      SELECT doc_id,
             list_transform(list_distinct({_SQL_TOKENS}),
                            t -> CAST(('0x' || substr(md5(t),1,15)) AS BIGINT)) AS hs,
             list_transform(list_distinct({_SQL_TOKENS}),
                            t -> CAST(('0x' || substr(md5(t || '#b'),1,15)) AS BIGINT)) AS hs2
      FROM corpus
    ),
    sv AS (SELECT doc_id, {_sql_simhash63()} AS sh FROM th)
    SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
    FROM sv x JOIN sv y ON x.doc_id < y.doc_id
    WHERE bit_count(xor(x.sh, y.sh)) <= 3
    """,
)
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS (dedup.simhash_dup_pairs): 4-band
    Hamming-ball index with a pigeonhole EXACT-recall guarantee at
    radius 3 — the engine's banded join + popcount verify must equal
    the oracle's brute-force all-pairs popcount filter EXACTLY
    (corpus = documents + exact copies of every 25th doc, so
    hamming-0 pairs provably exist)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return dedup.simhash_dup_pairs(corpus, max_hamming=3)


@register(
    "d_ngram_jaccard",
    f"""
    WITH base AS (SELECT doc_id, lang, {_SQL_SHINGLES} AS sh FROM documents)
    SELECT x.doc_id AS a, y.doc_id AS b,
           round_even(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
    FROM base x JOIN base y ON x.lang = y.lang AND x.doc_id < y.doc_id
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.2
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    p = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.2)
    return p.select("a", "b", F.bround("jaccard", 6).alias("jaccard"))


# ------------------------------------------------------------------ text --

@register(
    "t_token_count",
    f"""
    SELECT doc_id, len({_SQL_TOKENS}) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS BIGINT) AS n_bpe
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    """Whitespace + BPE-ish pre-tokenizer counts (task brief). The BPE
    pattern is ASCII-class-only so Java regex (Spark) and RE2 (DuckDB)
    agree."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_token_count(F.col("text")).alias("n_bpe"),
    )


def _sql_occ(padded: str, needle: str) -> str:
    return f"CAST((length({padded}) - length(replace({padded}, '{needle}', ''))) / {len(needle)} AS BIGINT)"


def _sql_marker(lang: str) -> str:
    p = "(' ' || lower(text) || ' ')"
    return " + ".join(_sql_occ(p, f" {w} ") for w in text.LANG_MARKERS[lang])


@register(
    "t_lang_id",
    f"""
    SELECT doc_id,
      CASE {' '.join(f"WHEN s_{lg} > 0 AND s_{lg} = best THEN '{lg}'" for lg in text.LANG_MARKERS)}
           ELSE 'und' END AS lang_pred
    FROM (
      SELECT doc_id,
             {', '.join(f'({_sql_marker(lg)}) AS s_{lg}' for lg in text.LANG_MARKERS)},
             greatest({', '.join(f'({_sql_marker(lg)})' for lg in text.LANG_MARKERS)}) AS best
      FROM documents
    )
    """,
)
def q_lang_id(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", text.lang_id(F.col("text")).alias("lang_pred")
    )


@register(
    "t_quality",
    f"""
    SELECT doc_id, round_even(
      0.4 * least(1.0, CAST(len({_SQL_TOKENS}) AS DOUBLE) / 100.0)
      + 0.3 * greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
          THEN CAST({_sql_occ('text', '.')} + {_sql_occ('text', ',')} + {_sql_occ('text', '!')} AS DOUBLE)
               / CAST(length(text) AS DOUBLE) ELSE 0.0 END) * 10.0)
      + 0.3 * least(1.0, (CASE WHEN len({_SQL_TOKENS}) > 0
          THEN CAST({_sql_marker('en')} AS DOUBLE) / CAST(len({_SQL_TOKENS}) AS DOUBLE)
          ELSE 0.0 END) * 8.0), 6) AS quality
    FROM documents
    """,
)
def q_quality(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", F.bround(text.quality_score(F.col("text")), 6).alias("quality")
    )


@register(
    "t_fingerprint",
    f"""
    SELECT doc_id, md5(array_to_string({_SQL_TOKENS}, ' ')) AS fp,
           list_reduce(
             list_concat([0::BIGINT],
               list_transform({_SQL_TOKENS},
                 t -> CAST(('0x' || substr(md5(t),1,15)) AS BIGINT) % {text.ROLL_P})),
             (h, g) -> (h * {text.ROLL_B} + g) % {text.ROLL_P}) AS fp_roll
    FROM documents
    """,
)
def q_fingerprint(spark, sf_dir):
    """md5 fingerprint + order-sensitive polynomial rolling hash (task
    brief: 'document fingerprinting (rolling hash)')."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        text.fingerprint(F.col("text")).alias("fp"),
        text.rolling_fingerprint(F.col("text")).alias("fp_roll"),
    )


# ------------------------------------------------------------ multimodal --

@register(
    "m_page_meta",
    """
    SELECT 'https://example.org/' || lang || '/' || doc_id AS url,
           CAST(length(text) AS BIGINT) AS n_bytes,
           lower(hex(substr(text, 1, 4))) AS magic
    FROM documents
    """,
)
def q_page_meta(spark, sf_dir):
    """Binary-column metadata (ascii corpus ⇒ byte length == char
    length; validated in tests)."""
    pages = synth.pages(spark, sf_dir)
    return pages.select(
        "url",
        F.octet_length("html").cast("long").alias("n_bytes"),
        F.lower(F.hex(F.substring(F.col("html"), 1, 4))).alias("magic"),
    )


@register(
    "m_features",
    """
    WITH base AS (
      SELECT doc_id,
             'https://example.org/' || lang || '/' || doc_id AS url,
             CAST(length(text) AS BIGINT) AS n_bytes,
             lower(hex(substr(text, 1, 4))) AS magic
      FROM documents WHERE length(text) > 0
    ),
    nib AS (
      SELECT doc_id, ascii(c) // 16 AS k
      FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
            FROM documents WHERE length(text) > 0)
    ),
    cnt AS (SELECT doc_id, k, CAST(count(*) AS BIGINT) AS n FROM nib GROUP BY 1, 2),
    grid AS (
      SELECT b.doc_id, g.k, coalesce(c.n, 0) AS n
      FROM base b CROSS JOIN (SELECT unnest(range(0, 16)) AS k) g
      LEFT JOIN cnt c ON c.doc_id = b.doc_id AND c.k = g.k
    ),
    vec AS (
      SELECT doc_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY k) AS features_str
      FROM grid GROUP BY doc_id
    )
    SELECT b.url, b.n_bytes, b.magic, v.features_str
    FROM base b JOIN vec v USING (doc_id)
    """,
)
def q_m_features(spark, sf_dir):
    """Multimodal decode plumbing (mapInPandas, Arrow batches). The
    fake decode emits a normalized float32 16-bin byte histogram; the
    contract recovers the exact integer bin counts (count/len is exact
    enough in float32 for docs < 2^23 bytes that round() inverts it)
    so the driver canonicalizer gets a hashable string instead of an
    array<float> (r01 err: unhashable type 'list')."""
    feats = multimodal.extract_features(
        synth.pages(spark, sf_dir).filter(F.octet_length("html") > 0)
    )
    cnt = F.transform(
        "features", lambda f: F.round(f * F.col("n_bytes")).cast("long").cast("string")
    )
    return feats.select(
        "url", "n_bytes", "magic", F.concat_ws(",", cnt).alias("features_str")
    )


@register(
    "m_frame_sample",
    f"""
    WITH f AS (
      SELECT doc_id,
             'https://example.org/' || lang || '/' || doc_id AS url,
             text, unnest(range(0, (length(text) + {multimodal.FRAME_SIZE - 1}) // {multimodal.FRAME_SIZE})) AS fi
      FROM documents WHERE length(text) > 0
    )
    SELECT url, CAST(fi AS INT) AS frame_i,
           CAST(length(substr(text, CAST(fi AS INT) * {multimodal.FRAME_SIZE} + 1, {multimodal.FRAME_SIZE})) AS BIGINT) AS frame_bytes,
           md5(substr(text, CAST(fi AS INT) * {multimodal.FRAME_SIZE} + 1, {multimodal.FRAME_SIZE})) AS digest
    FROM f WHERE fi % {multimodal.FRAME_EVERY} = 0
    """,
)
def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: every k-th fixed-size frame of
    the binary payload → one row with an md5 content digest (ASCII
    corpus ⇒ the DuckDB text-substring md5 is byte-identical)."""
    return multimodal.sample_frames(
        synth.pages(spark, sf_dir).filter(F.octet_length("html") > 0)
    )


@register(
    "m_bmp_features",
    """
    WITH d AS (
      SELECT doc_id, lang, 2 + doc_id % 6 AS w, 2 + doc_id % 4 AS h
      FROM documents
    ),
    px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
    v AS (
      SELECT doc_id, w, h, i,
             (doc_id * 31 + (i // w) * 17 + (i % w) * 7) % 256 AS r,
             (doc_id * 31 + (i // w) * 17 + (i % w) * 7 + 11) % 256 AS g,
             (doc_id * 31 + (i // w) * 17 + (i % w) * 7 + 22) % 256 AS b
      FROM px
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(r) AS DOUBLE) / (min(w) * min(h)) AS mean_r,
             CAST(sum(g) AS DOUBLE) / (min(w) * min(h)) AS mean_g,
             CAST(sum(b) AS DOUBLE) / (min(w) * min(h)) AS mean_b,
             CAST(sum(i * (r + 2 * g + 3 * b)) AS BIGINT) AS wsum
      FROM v GROUP BY doc_id
    )
    SELECT 'https://example.org/' || d.lang || '/' || d.doc_id AS url,
           CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
           a.mean_r, a.mean_g, a.mean_b, a.wsum
    FROM d JOIN agg a USING (doc_id)
    """,
)
def q_bmp_features(spark, sf_dir):
    """REAL multimodal decode (v2 of the stubbed plumbing): each
    document becomes an actual 24-bpp BMP (padded rows, mixed
    bottom-up/top-down orientations — synth.bmp_pages), decoded by the
    from-scratch numpy reader (multimodal.decode_bmp) inside an
    Arrow-batched map stage. The oracle NEVER touches the bytes: it
    recomputes width/height/channel means and the order-sensitive
    pixel-weighted sum from the closed-form pixel function, so any
    decode defect — padding eaten, rows unflipped, BGR order kept —
    value-mismatches (means are integer-sum/count divisions: exact in
    both engines)."""
    feats = multimodal.image_features(
        synth.bmp_pages(spark, sf_dir), binary_col="img"
    )
    return feats.select(
        "url", "width", "height", "mean_r", "mean_g", "mean_b", "wsum"
    )


# ------------------------------------------------------ text extraction --

@register(
    "t_extract_text",
    """
    SELECT 'https://example.org/' || lang || '/' || doc_id AS url,
           true AS byte_identical,
           md5(text) AS text_md5
    FROM documents
    """,
)
def q_extract_text(spark, sf_dir):
    """The per-row invariant the input_hint mandates: byte-identical
    extracted text per url. The engine rebuilds real markup around the
    ground-truth text (head/title, <p> paragraphs, inline <b>, escaped
    entities — operators/extract.markup_pages), runs the native
    extractor over the html binary, and must reproduce the text column
    byte-for-byte: the oracle states the ground truth (md5 of the
    reference text, byte_identical=true), so any extractor deviation
    hash-mismatches."""
    from hope_graph_builder_spark.operators.extract import extract_text, markup_pages

    from hope_graph_builder_spark import synth

    p = markup_pages(synth.pages(spark, sf_dir))
    out = extract_text(p)
    return out.select(
        "url",
        (F.col("extracted_text") == F.col("text")).alias("byte_identical"),
        F.md5(F.encode(F.col("extracted_text"), "UTF-8")).alias("text_md5"),
    )


@register(
    "w_webtext_ingest",
    f"""
    WITH sigs AS ({{sig}}),
    bb AS (
      SELECT doc_id, b.range AS band,
             md5(array_to_string(list_transform(
                 list_slice(sig, b.range * 4 + 1, b.range * 4 + 4),
                 x -> CAST(x AS VARCHAR)), ',')) AS bucket
      FROM sigs, range(0, {{bands}}) b
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bb x JOIN bb y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    members AS (SELECT DISTINCT a AS id FROM sym),
    walk AS (
      WITH RECURSIVE w(id, seed) AS (
        SELECT id, id FROM members
        UNION
        SELECT s.b, w.seed FROM w JOIN sym s ON s.a = w.id
      ) SELECT * FROM w
    ),
    comp AS (SELECT id, min(seed) AS component FROM walk GROUP BY id),
    q AS (
      SELECT doc_id, round_even(
        0.4 * least(1.0, CAST(len({{toks}}) AS DOUBLE) / 100.0)
        + 0.3 * greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
            THEN CAST({{occ_dot}} + {{occ_comma}} + {{occ_bang}} AS DOUBLE)
                 / CAST(length(text) AS DOUBLE) ELSE 0.0 END) * 10.0)
        + 0.3 * least(1.0, (CASE WHEN len({{toks}}) > 0
            THEN CAST({{mark_en}} AS DOUBLE) / CAST(len({{toks}}) AS DOUBLE)
            ELSE 0.0 END) * 8.0), 6) AS quality,
        ({{dup1}} <= CAST(0.6 AS DOUBLE)
         AND {{dup2}} <= CAST(0.4 AS DOUBLE)
         AND {{dup3}} <= CAST(0.3 AS DOUBLE)) AS rep_pass
      FROM documents
    ),
    ld AS (SELECT doc_id, lang, lower(text) AS s FROM documents),
    tri AS (
      SELECT doc_id, lang, unnest(
        CASE WHEN length(s) >= 3
             THEN list_transform(range(1, length(s) - 1), i -> substr(s, CAST(i AS INT), 3))
             ELSE [] END) AS tri
      FROM ld
    ),
    tcnt AS (SELECT lang AS plang, tri, count(*) AS c FROM tri GROUP BY 1, 2),
    prof AS (
      SELECT plang, tri FROM (
        SELECT *, row_number() OVER (PARTITION BY plang ORDER BY c DESC, tri) AS rn
        FROM tcnt
      ) WHERE rn <= 20
    ),
    hits AS (
      SELECT t.doc_id, p.plang, count(*) AS hc
      FROM tri t JOIN prof p USING (tri) GROUP BY 1, 2
    ),
    pred AS (
      SELECT doc_id, plang FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hc DESC, plang) AS rn
        FROM hits
      ) WHERE rn = 1
    ),
    base AS (
      SELECT d.doc_id,
             'https://example.org/' || d.lang || '/' || d.doc_id AS url,
             coalesce(pred.plang, 'und') AS lang_pred,
             q.quality,
             CAST(len({{toks}}) AS BIGINT) AS n_tokens,
             q.rep_pass,
             coalesce(comp.component, d.doc_id) AS cluster_id
      FROM documents d
      JOIN q ON q.doc_id = d.doc_id
      LEFT JOIN pred ON pred.doc_id = d.doc_id
      LEFT JOIN comp ON comp.id = d.doc_id
    )
    SELECT doc_id, url, lang_pred, quality, n_tokens, rep_pass, cluster_id,
           (row_number() OVER (
              PARTITION BY cluster_id
              ORDER BY rep_pass DESC, quality DESC, doc_id) = 1
            AND quality >= CAST(0.5 AS DOUBLE) AND rep_pass) AS keep
    FROM base
    """.format(
        sig=_sql_minhash_sig(), bands=dedup.BANDS, toks=_SQL_TOKENS,
        occ_dot=_sql_occ("text", "."), occ_comma=_sql_occ("text", ","),
        occ_bang=_sql_occ("text", "!"),
        mark_en=_sql_marker("en"),
        dup1=_sql_dup_ratio(1), dup2=_sql_dup_ratio(2), dup3=_sql_dup_ratio(3),
    ),
)
def q_webtext_ingest(spark, sf_dir):
    """The composed CC-style ingest v2 (pipelines/webtext): extraction
    is byte-identical to the ground-truth text (t_extract_text pins
    that), so the oracle computes every signal — TRAINED trigram
    language ID (profile training replayed in SQL), quality, token
    count, Gopher repetition gates, near-dup cluster, and the
    quality-first canonical (rep_pass ≻ quality ≻ id per cluster) —
    directly on documents.text; the whole pipeline output must
    value-match, keep gate included."""
    from hope_graph_builder_spark import synth
    from hope_graph_builder_spark.operators.extract import markup_pages
    from hope_graph_builder_spark.pipelines.webtext import run_webtext_ingest

    return run_webtext_ingest(markup_pages(synth.pages(spark, sf_dir)))



@register(
    "w_host_stats",
    """
    WITH d AS (
      SELECT doc_id, lang,
             'https://' || CASE WHEN doc_id % 13 = 0 THEN 'user:pw@' ELSE '' END
             || lang || CAST(doc_id % 7 AS VARCHAR) || '.example.'
             || CASE WHEN doc_id % 2 = 0 THEN 'org' ELSE 'net' END
             || CASE WHEN doc_id % 5 = 0 THEN ':8443' ELSE '' END
             || '/p/' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id % 101 AS DOUBLE) / CAST(100 AS DOUBLE) AS q,
             doc_id % 999 AS t
      FROM documents
    ),
    h AS (
      SELECT lower(string_split(
               list_extract(string_split(string_split(url, '/')[3], '@'), -1),
               ':')[1]) AS host,
             q, t FROM d
    ),
    agg AS (
      SELECT host, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS n_tokens,
             CAST(sum(CAST(round_even(q, 6) AS DECIMAL(20,10))) AS DOUBLE)
               / count(*) AS mean_quality
      FROM h GROUP BY host
    )
    SELECT host, n_docs, n_tokens, mean_quality,
           string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1] AS domain
    FROM agg
    """,
)
def q_host_stats(spark, sf_dir):
    """Per-host corpus stats (operators/web.host_stats) over an
    adversarial URL fixture — userinfo ('user:pw@') on every 13th url,
    an explicit port on every 5th, two TLDs: hostname extraction must
    strip both, stats aggregate on the clean host key (decimal-exact
    mean quality), and the last-two-labels registered-domain
    approximation rides along. Split/substring parsing only — both
    engines byte-agree with no regex."""
    from hope_graph_builder_spark.operators import web

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 13 == 0, F.lit("user:pw@")).otherwise(F.lit("")),
            F.col("lang"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example."),
            F.when(F.col("doc_id") % 2 == 0, F.lit("org")).otherwise(F.lit("net")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(":8443")).otherwise(F.lit("")),
            F.lit("/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        ((F.col("doc_id") % 101).cast("double") / F.lit(100.0)).alias("quality"),
        (F.col("doc_id") % 999).alias("n_tokens"),
    )
    stats = web.host_stats(d)
    dom = d.select(
        web.host_expr(F.col("url")).alias("host"),
        web.registered_domain_expr(F.col("url")).alias("domain"),
    ).distinct()
    return stats.join(dom, "host")


def _pii_sql() -> str:
    from hope_graph_builder_spark.operators import pii

    return """
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' contact u' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com now ' ||
             CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 'ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                          || CAST(doc_id % 250 AS VARCHAR) || ' seen'
               WHEN 1 THEN 'call +1 555 010 ' || CAST(1000 + doc_id % 9000 AS VARCHAR)
               ELSE 'plain tail' END AS text
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_emails,
             regexp_replace(text, '{email}', '{etok}', 'g') AS t1
      FROM d
    ),
    s2 AS (
      SELECT doc_id, n_emails,
             CAST(len(regexp_extract_all(t1, '{ip}')) AS BIGINT) AS n_ips,
             regexp_replace(t1, '{ip}', '{itok}', 'g') AS t2
      FROM s1
    )
    SELECT doc_id,
           regexp_replace(t2, '{phone}', '{ptok}', 'g') AS clean_text,
           n_emails, n_ips,
           CAST(len(regexp_extract_all(t2, '{phone}')) AS BIGINT) AS n_phones
    FROM s2
    """.format(
        email=pii.EMAIL_RE, ip=pii.IPV4_RE, phone=pii.PHONE_RE,
        etok=pii.EMAIL_TOKEN, itok=pii.IP_TOKEN, ptok=pii.PHONE_TOKEN,
    )


@register("t_pii_scrub", _pii_sql())
def q_pii_scrub(spark, sf_dir):
    """PII redaction (operators/pii): emails → IPv4 → phones, each
    counted against the intermediate it was replaced in. The fixture
    injects a deterministic email into every document and an IP /
    phone by doc_id residue; the oracle replays the same three RE2/
    Java-portable patterns with DuckDB's 'g' regexp_replace — the
    scrubbed text and all three counts must match byte-for-byte."""
    from hope_graph_builder_spark.operators import pii

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 40),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com now "),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit("ip 10."), (F.col("doc_id") % 200).cast("string"),
                    F.lit(".0."), (F.col("doc_id") % 250).cast("string"),
                    F.lit(" seen"),
                ),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit("call +1 555 010 "),
                    (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
                ),
            )
            .otherwise(F.lit("plain tail")),
        ).alias("text"),
    )
    out = pii.with_pii_scrubbed(d)
    return out.select("doc_id", "clean_text", "n_emails", "n_ips", "n_phones")


_URL_FIXTURE_SQL = """
    SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 0 THEN 'HTTP://Example.COM:80/a/' || CAST(doc_id % 50 AS VARCHAR) || '/'
      WHEN 1 THEN 'http://example.com/a/' || CAST(doc_id % 50 AS VARCHAR)
      WHEN 2 THEN 'https://Example.com:443/b?q=' || CAST(doc_id % 30 AS VARCHAR)
                  || '#frag' || CAST(doc_id AS VARCHAR)
      ELSE 'https://user@example.com/b?q=' || CAST(doc_id % 30 AS VARCHAR)
      END AS url
    FROM documents
"""


def _url_fixture(spark, sf_dir):
    m = F.col("doc_id") % 4
    n50 = (F.col("doc_id") % 50).cast("string")
    n30 = (F.col("doc_id") % 30).cast("string")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(m == 0, F.concat(F.lit("HTTP://Example.COM:80/a/"), n50, F.lit("/")))
        .when(m == 1, F.concat(F.lit("http://example.com/a/"), n50))
        .when(
            m == 2,
            F.concat(
                F.lit("https://Example.com:443/b?q="), n30,
                F.lit("#frag"), F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.concat(F.lit("https://user@example.com/b?q="), n30))
        .alias("url"),
    )


@register(
    "w_url_dedup",
    f"""
    WITH d AS ({_URL_FIXTURE_SQL}),
    p1 AS (SELECT doc_id, split_part(url, '#', 1) AS u0 FROM d),
    p2 AS (SELECT doc_id, u0,
             strpos(u0, '://') > 0 AS hs,
             lower(split_part(u0, '://', 1)) AS scheme,
             substr(u0, strpos(u0, '://') + 3) AS rest
           FROM p1),
    p3 AS (SELECT *, split_part(rest, '/', 1) AS auth FROM p2),
    p4 AS (SELECT *, substr(rest, length(auth) + 1) AS pathq,
             list_extract(string_split(auth, '@'), -1) AS hostport FROM p3),
    p5 AS (SELECT *, lower(split_part(hostport, ':', 1)) AS host,
             CASE WHEN strpos(hostport, ':') > 0
                  THEN split_part(hostport, ':', 2) ELSE '' END AS port
           FROM p4),
    p6 AS (SELECT doc_id, u0, hs, scheme, host, pathq,
             CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                      OR (scheme = 'https' AND port = '443'))
                  THEN ':' || port ELSE '' END AS portpart,
             CASE WHEN ends_with(pathq, '/') AND strpos(pathq, '?') = 0
                  THEN substr(pathq, 1, length(pathq) - 1) ELSE pathq END AS path_c
           FROM p5),
    c AS (SELECT doc_id,
            CASE WHEN hs THEN scheme || '://' || host || portpart || path_c
                 ELSE u0 END AS canon_url
          FROM p6),
    g AS (SELECT canon_url, min(doc_id) AS keeper, count(*) AS n_dups
          FROM c GROUP BY canon_url)
    SELECT c.doc_id, c.canon_url, c.doc_id = g.keeper AS keep, g.n_dups
    FROM c JOIN g USING (canon_url)
    """,
)
def q_url_dedup(spark, sf_dir):
    """URL-level dedup on the canonical form (operators/web): the
    fixture spells the same logical pages four ways (uppercase scheme/
    host + default port + trailing slash; plain; default https port +
    fragment; userinfo) so cross-branch collisions only appear when
    every canonicalization rule fires. Oracle replays the split-based
    canonicalizer step-for-step, then the min-id keeper join."""
    from hope_graph_builder_spark.operators import web

    return web.url_dedup(_url_fixture(spark, sf_dir))


@register(
    "c_hash_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#s0'), 1, 15)) AS BIGINT)
            % 1000000
          < CASE lang WHEN 'en' THEN 500000 WHEN 'fi' THEN 100000 ELSE 200000 END
    """,
)
def q_hash_sample(spark, sf_dir):
    """Deterministic stratified hash sampling (operators/corpus):
    keep-if-salted-hash-under-threshold, per-language rates with a
    default fallback. The oracle replays the identical md5-derived
    60-bit hash and thresholds — the sampled id set must match
    exactly, which is the whole point of hash (vs rand()) sampling."""
    from hope_graph_builder_spark.operators import corpus

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return corpus.hash_sample(
        d, rate=0.2, salt="s0", by="lang", rates={"en": 0.5, "fi": 0.1}
    )


@register(
    "c_pack_budget",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(doc_id % 101 AS DOUBLE) / CAST(100 AS DOUBLE) AS quality,
             CAST(doc_id % 999 AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, quality, n_tokens,
             CAST(sum(n_tokens) OVER (
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM d
    )
    SELECT doc_id, quality, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 80000
    """,
)
def q_pack_budget(spark, sf_dir):
    """Token-budget packing (operators/corpus): greedy quality-first
    prefix under an 80k-token budget. The engine runs the two-phase
    distributed prefix sum (value-bucketed, no global-order window);
    the oracle is the naive single global cumulative window — the two
    must agree row-for-row, cum_tokens included, which pins the
    bucket decomposition as an EXACT re-expression of the global
    order."""
    from hope_graph_builder_spark.operators import corpus

    d = _docs(spark, sf_dir).select(
        "doc_id",
        ((F.col("doc_id") % 101).cast("double") / F.lit(100.0)).alias("quality"),
        (F.col("doc_id") % 999).cast("long").alias("n_tokens"),
    )
    return corpus.pack_token_budget(d, 80000)


@register(
    "c_contamination",
    f"""
    WITH bg AS (
      SELECT DISTINCT unnest({_sql_ngrams(8)}) AS g
      FROM documents WHERE doc_id % 25 = 0
    ),
    dg AS (
      SELECT doc_id,
             unnest(CASE WHEN len(list_distinct({_sql_ngrams(8)})) = 0
                    THEN [CAST(NULL AS VARCHAR)]
                    ELSE list_distinct({_sql_ngrams(8)}) END) AS g
      FROM documents
    ),
    j AS (
      SELECT d.doc_id, d.g, b.g AS hit
      FROM dg d LEFT JOIN bg b ON d.g = b.g
    )
    SELECT doc_id, CAST(count(g) AS BIGINT) AS n_grams,
           CAST(count(hit) AS BIGINT) AS n_hits,
           count(hit) > 0 AS contaminated
    FROM j GROUP BY doc_id
    """,
)
def q_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/corpus): every 25th
    document plays the evaluation benchmark; those documents must come
    back fully contaminated (self-overlap) and everything else only
    via genuine 8-gram collisions. The oracle replays the distinct-
    gram explode (with the empty-array → NULL row that keeps short
    docs), the gram join, and both counts."""
    from hope_graph_builder_spark.operators import corpus

    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 25 == 0).select("text")
    return corpus.ngram_contamination(d, bench, n=8)


@register(
    "c_chunk_tokens",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ),
    e AS (
      SELECT doc_id, toks,
             unnest(list_filter(
               CASE WHEN len(toks) > 0 THEN range(0, len(toks), 16) ELSE [] END,
               s -> s = 0 OR s + 8 < len(toks))) AS s
      FROM d
    )
    SELECT doc_id, CAST(s // 16 AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, s + 1, s + 24)) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, s + 1, s + 24), ' ') AS chunk_text
    FROM e
    """,
)
def q_chunk_tokens(spark, sf_dir):
    """Fixed-window training-sequence chunking (operators/corpus
    .chunk_tokens): seq_len=24 tokens, overlap=8 (stride 16). The
    oracle replays tokenization, the start grid, the no-new-tokens
    tail suppression and the slice/rejoin — every chunk's id, length
    and text must match byte-for-byte."""
    from hope_graph_builder_spark.operators import corpus

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return corpus.chunk_tokens(d, seq_len=24, overlap=8)


@register(
    "d_dup_substrings",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN 'standard license header text do not remove this notice. '
                  ELSE '' END || text AS s
      FROM documents
    ),
    wins AS (
      SELECT doc_id, (p.pos) AS pos, p.h FROM (
        SELECT doc_id, unnest(list_transform(
          CASE WHEN length(s) >= 30 THEN range(1, length(s) - 28) ELSE [] END,
          i -> struct_pack(
            pos := CAST(i AS INT),
            h := CAST(('0x' || substr(md5(substr(s, CAST(i AS INT), 30)), 1, 15))
                      AS BIGINT)))) AS p
        FROM d)
    ),
    dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
    flagged AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lag_pos
      FROM flagged
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN pos > lag_pos + 30 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS i
      FROM lagged
    ),
    spans AS (
      SELECT doc_id, i, max(pos) - min(pos) + 30 AS span_chars
      FROM isl GROUP BY 1, 2
    ),
    per_span AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(span_chars) AS BIGINT) AS dup_chars
      FROM spans GROUP BY 1
    ),
    per_win AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM wins GROUP BY 1
    ),
    per_dup AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
      FROM flagged GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(per_win.n_windows, 0) AS n_windows,
           coalesce(per_dup.n_dup_windows, 0) AS n_dup_windows,
           coalesce(per_span.n_spans, 0) AS n_spans,
           coalesce(per_span.dup_chars, 0) AS dup_chars
    FROM d
    LEFT JOIN per_win USING (doc_id)
    LEFT JOIN per_dup USING (doc_id)
    LEFT JOIN per_span USING (doc_id)
    """,
)
def q_dup_substrings(spark, sf_dir):
    """Exact-substring duplication audit (operators/dedup
    .dup_substring_spans, the ExactSubstr family): every 7th document
    carries a planted 57-char license header, so its 30-char windows
    repeat corpus-wide and must merge into one leading span; natural
    cross-doc 30-char collisions (if any) are replayed identically.
    The oracle recomputes every window hash, the >1 corpus count, the
    flagged positions and the lag/cumsum island merge."""
    from hope_graph_builder_spark.operators import dedup as dd

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("standard license header text do not remove this notice. "),
            ).otherwise(F.lit("")),
            F.col("text"),
        ).alias("text"),
    )
    out = dd.dup_substring_spans(d, k=30, stride=1)
    return out.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("dup_chars").cast("long").alias("dup_chars"),
    )


@register(
    "d_strip_dup_spans",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN 'standard license header text do not remove this notice. '
                  ELSE '' END || text AS s
      FROM documents
    ),
    wins AS (
      SELECT doc_id, (p.pos) AS pos, p.h FROM (
        SELECT doc_id, unnest(list_transform(
          CASE WHEN length(s) >= 30 THEN range(1, length(s) - 28) ELSE [] END,
          i -> struct_pack(
            pos := CAST(i AS INT),
            h := CAST(('0x' || substr(md5(substr(s, CAST(i AS INT), 30)), 1, 15))
                      AS BIGINT)))) AS p
        FROM d)
    ),
    dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
    flagged AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lag_pos
      FROM flagged
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN pos > lag_pos + 30 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS i
      FROM lagged
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s0, max(pos) + 29 AS e0
      FROM isl GROUP BY doc_id, i
    ),
    segs AS (
      SELECT doc_id,
             coalesce(lag(e0) OVER (PARTITION BY doc_id ORDER BY s0) + 1, 1) AS gs,
             s0 - 1 AS ge
      FROM spans
      UNION ALL
      SELECT doc_id, max(e0) + 1 AS gs, NULL AS ge FROM spans GROUP BY doc_id
    ),
    rebuilt AS (
      SELECT segs.doc_id,
             string_agg(substr(d.s, gs, coalesce(ge, length(d.s)) - gs + 1),
                        '' ORDER BY gs) AS clean
      FROM segs JOIN d USING (doc_id)
      GROUP BY segs.doc_id
    ),
    nsp AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_removed_spans
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(r.clean, d.s) AS text,
           coalesce(nsp.n_removed_spans, 0) AS n_removed_spans,
           CAST(length(d.s) - length(coalesce(r.clean, d.s)) AS BIGINT)
             AS removed_chars
    FROM d
    LEFT JOIN rebuilt r USING (doc_id)
    LEFT JOIN nsp USING (doc_id)
    """,
)
def q_strip_dup_spans(spark, sf_dir):
    """Exact-substring REMOVAL (operators/dedup.strip_dup_spans): the
    same planted-header corpus as d_dup_substrings, but the output is
    the cleaned text itself — every maximal duplicated span excised
    from every document. The oracle replays the full audit chain and
    then rebuilds each document from the gap segments between spans
    (lag window + ordered string_agg), so every cleaned byte is
    compared, not just the span arithmetic."""
    from hope_graph_builder_spark.operators import dedup as dd

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("standard license header text do not remove this notice. "),
            ).otherwise(F.lit("")),
            F.col("text"),
        ).alias("text"),
    )
    return dd.strip_dup_spans(d, k=30, stride=1)


@register(
    "c_shard_shuffle",
    """
    WITH h AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#sh0'), 1, 15))
                  AS BIGINT) AS _h
      FROM documents
    )
    SELECT doc_id, lang, CAST(_h % 16 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY _h % 16 ORDER BY _h, doc_id) - 1
                AS BIGINT) AS pos
    FROM h
    """,
)
def q_shard_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle + sharding (operators/corpus
    .shard_shuffle): shard = salted 60-bit hash mod 16, pos = rank by
    (hash, id) within the shard. The oracle replays the permutation
    exactly — every row's (shard, pos) must match, which is the
    reproducible-training-order guarantee the operator exists for."""
    from hope_graph_builder_spark.operators import corpus

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return corpus.shard_shuffle(d, n_shards=16, salt="sh0")


@register(
    "c_corpus_curation",
    """
    WITH d AS (SELECT doc_id, source, text FROM documents),
    lt AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x != '') AS ltoks,
             string_split(text, chr(10)) AS lines,
             text AS t
      FROM d
    ),
    g AS (
      SELECT doc_id,
        CAST(len(ltoks) AS INT) AS n_words,
        CAST(coalesce(list_sum(list_transform(ltoks, x -> length(x))), 0)
             AS BIGINT) AS sum_word_chars,
        CAST(len(list_filter(ltoks, x -> regexp_matches(x, '[a-z]')))
             AS INT) AS n_alpha_words,
        CAST((length(t) - length(replace(t, '#', '')))
             + (length(t) - length(replace(t, '...', ''))) // 3
             AS INT) AS n_syms,
        CAST(len(lines) AS INT) AS n_lines,
        CAST(len(list_filter(lines,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS INT)
             AS n_bullet_lines,
        CAST(len(list_filter(lines,
               l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS INT)
             AS n_ellipsis_lines,
        CAST(len(lines) - len(list_distinct(lines)) AS INT) AS n_dup_lines
      FROM lt
    ),
    gate AS (
      SELECT doc_id FROM g
      WHERE n_words >= 50 AND n_words <= 100000
        AND n_words > 0 AND sum_word_chars >= 3 * n_words
                        AND sum_word_chars <= 10 * n_words
        AND n_syms * 10 <= n_words
        AND n_alpha_words * 5 >= n_words * 4
        AND n_bullet_lines * 10 <= n_lines * 9
        AND n_ellipsis_lines * 10 <= n_lines * 3
        AND n_dup_lines * 10 <= n_lines * 3
    ),
    q AS (
      SELECT doc_id,
        round_even(
          0.4 * least(1.0, CAST(len({{_SQL_TOKENS}}) AS DOUBLE) / 100.0)
          + 0.3 * greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
              THEN CAST({{OCC_DOT}} + {{OCC_COMMA}} + {{OCC_BANG}} AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) ELSE 0.0 END) * 10.0)
          + 0.3 * least(1.0, (CASE WHEN len({{_SQL_TOKENS}}) > 0
              THEN CAST({{MARKER_EN}} AS DOUBLE)
                   / CAST(len({{_SQL_TOKENS}}) AS DOUBLE)
              ELSE 0.0 END) * 8.0), 6) AS quality,
        CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
             AS BIGINT) AS n_tokens
      FROM documents
    ),
    kept AS (
      SELECT x.doc_id, x.text, q.quality, q.n_tokens FROM (
        SELECT d.doc_id, d.text,
               row_number() OVER (PARTITION BY d.source ORDER BY
                 CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#cur0'),
                       1, 15)) AS BIGINT),
                 d.doc_id) - 1 AS r
        FROM d JOIN gate USING (doc_id)
      ) x JOIN q ON x.doc_id = q.doc_id
      WHERE x.r < 8
    ),
    packed AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM kept) z
      WHERE cum <= 6000
    ),
    tk AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM packed
    ),
    ch AS (
      SELECT doc_id, toks, unnest(list_filter(
        CASE WHEN len(toks) > 0 THEN range(0, len(toks), 24) ELSE [] END,
        s -> s = 0 OR s + 8 < len(toks))) AS s
      FROM tk
    ),
    chunks AS (
      SELECT doc_id,
             CAST(s // 24 AS BIGINT) AS chunk_id,
             CAST(len(list_slice(toks, s + 1, s + 32)) AS BIGINT) AS n_tokens,
             array_to_string(list_slice(toks, s + 1, s + 32), ' ')
               AS chunk_text,
             doc_id * 1048576 + CAST(s // 24 AS BIGINT) AS uid
      FROM ch
    ),
    sh AS (
      SELECT *, CAST(('0x' || substr(md5(CAST(uid AS VARCHAR) || '#cur0'),
                      1, 15)) AS BIGINT) AS h
      FROM chunks
    )
    SELECT CAST(h % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, uid) - 1
                AS BIGINT) AS pos,
           doc_id, chunk_id, n_tokens, chunk_text
    FROM sh
    """.replace("{{_SQL_TOKENS}}", _SQL_TOKENS)
       .replace("{{OCC_DOT}}", _sql_occ("text", "."))
       .replace("{{OCC_COMMA}}", _sql_occ("text", ","))
       .replace("{{OCC_BANG}}", _sql_occ("text", "!"))
       .replace("{{MARKER_EN}}", _sql_marker("en")),
)
def q_corpus_curation(spark, sf_dir):
    """The COMPOSED curation pipeline (pipelines/curation
    .run_corpus_curation): Gopher gate (7 rules — the English-stopword
    rule dropped, this corpus has none) → per-source quota 8 in salted
    hash order → quality-first 6000-token budget → 32/8 chunking →
    8-shard deterministic shuffle. The oracle replays EVERY stage with
    naive single-window forms and compares the final training stream —
    shard, position, chunk bytes — row for row; a drift anywhere in
    the five-stage chain (gate arithmetic, rank decomposition, prefix
    sum, chunk grid, shard permutation) lands here."""
    from hope_graph_builder_spark.pipelines.curation import run_corpus_curation

    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    return run_corpus_curation(
        d, quota_per_source=8, token_budget=6000, seq_len=32, overlap=8,
        n_shards=8, salt="cur0",
        gate_cols=[
            "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
            "ok_alpha_words", "ok_bullet_lines", "ok_ellipsis_lines",
            "ok_dup_lines",
        ],
    )


@register(
    "t_gopher_flags",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x != '') AS toks,
             string_split(text, chr(10)) AS lines,
             text AS t
      FROM documents
    ),
    c AS (
      SELECT doc_id,
        CAST(len(toks) AS INT) AS n_words,
        CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
             AS BIGINT) AS sum_word_chars,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
             AS INT) AS n_alpha_words,
        CAST((length(t) - length(replace(t, '#', '')))
             + (length(t) - length(replace(t, '...', ''))) // 3
             AS INT) AS n_syms,
        CAST(len(list_intersect(toks,
               ['the','be','to','of','and','that','have','with'])) AS INT)
             AS n_stop_kinds,
        CAST(len(lines) AS INT) AS n_lines,
        CAST(len(list_filter(lines,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS INT)
             AS n_bullet_lines,
        CAST(len(list_filter(lines,
               l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS INT)
             AS n_ellipsis_lines,
        CAST(len(lines) - len(list_distinct(lines)) AS INT) AS n_dup_lines
      FROM d
    )
    SELECT *,
      (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
      (n_words > 0 AND sum_word_chars >= 3 * n_words
                   AND sum_word_chars <= 10 * n_words) AS ok_mean_word_len,
      (n_syms * 10 <= n_words) AS ok_symbol_ratio,
      (n_alpha_words * 5 >= n_words * 4) AS ok_alpha_words,
      (n_stop_kinds >= 2) AS ok_stop_words,
      (n_bullet_lines * 10 <= n_lines * 9) AS ok_bullet_lines,
      (n_ellipsis_lines * 10 <= n_lines * 3) AS ok_ellipsis_lines,
      (n_dup_lines * 10 <= n_lines * 3) AS ok_dup_lines,
      ((n_words >= 50 AND n_words <= 100000)
       AND (n_words > 0 AND sum_word_chars >= 3 * n_words
                        AND sum_word_chars <= 10 * n_words)
       AND (n_syms * 10 <= n_words)
       AND (n_alpha_words * 5 >= n_words * 4)
       AND (n_stop_kinds >= 2)
       AND (n_bullet_lines * 10 <= n_lines * 9)
       AND (n_ellipsis_lines * 10 <= n_lines * 3)
       AND (n_dup_lines * 10 <= n_lines * 3)) AS gopher_pass
    FROM c
    """,
)
def q_gopher_flags(spark, sf_dir):
    """Full Gopher quality battery (operators/text.gopher_flags):
    every raw counter and every rule flag replayed — the oracle
    recomputes tokenization, line splitting, the length/replace symbol
    counts and all eight cross-multiplied integer comparisons, so a
    drift in ANY counter or threshold shows as a hash mismatch."""
    from hope_graph_builder_spark.operators import text as textops

    return textops.gopher_flags(_docs(spark, sf_dir))


@register(
    "d_delta_dedup",
    """
    WITH hist AS (
      SELECT CASE WHEN doc_id = 0
                  THEN 'planted historical duplicate passage shared with the incoming batch'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 3 = 0
    ),
    idx AS (SELECT DISTINCT md5(text) AS h FROM hist),
    b AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 1
                  THEN 'planted historical duplicate passage shared with the incoming batch'
                  WHEN doc_id % 7 = 2
                  THEN 'batch internal duplicate boilerplate page'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 3 != 0
    ),
    k AS (SELECT md5(text) AS h, min(doc_id) AS keeper FROM b GROUP BY 1)
    SELECT b.doc_id,
           (idx.h IS NOT NULL) AS dup_of_index,
           (b.doc_id != k.keeper) AS dup_in_batch,
           (idx.h IS NULL AND b.doc_id = k.keeper) AS keep
    FROM b
    LEFT JOIN idx ON md5(b.text) = idx.h
    JOIN k ON md5(b.text) = k.h
    """,
)
def q_delta_dedup(spark, sf_dir):
    """Incremental exact dedup against a persisted index
    (operators/dedup.delta_exact_dedup): history = every 3rd doc (one
    carrying a planted passage), batch = the rest with the planted
    passage re-appearing every 5th id (index hits) and a shared
    boilerplate page every 7th (within-batch dups, keeper = min id).
    The oracle replays the digest index, both joins and all three
    flags."""
    from hope_graph_builder_spark.operators import dedup as dd

    planted = (
        "planted historical duplicate passage shared with the incoming batch"
    )
    bdup = "batch internal duplicate boilerplate page"
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.when(F.col("doc_id") == 0, F.lit(planted))
        .otherwise(F.col("text"))
        .alias("text")
    )
    index = hist.select(F.md5("text").alias("h")).distinct()
    batch = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 1, F.lit(planted))
        .when(F.col("doc_id") % 7 == 2, F.lit(bdup))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dd.delta_exact_dedup(batch, index).select(
        "doc_id", "dup_of_index", "dup_in_batch", "keep"
    )


@register(
    "t_vocab_topk",
    """
    WITH t AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != ''))
               AS token
      FROM documents
    ),
    c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token)
    SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 200
    """,
)
def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary induction (operators/text.vocab_topk): the
    200 most frequent lowercased tokens, tie-broken by token so the
    cut is a total order. The Spark side compiles to map-side-combined
    counts + TakeOrderedAndProject; the oracle is the plain
    ORDER BY/LIMIT form — the boundary ties must agree exactly."""
    from hope_graph_builder_spark.operators import text as textops

    return textops.vocab_topk(_docs(spark, sf_dir), k=200)


@register(
    "t_bpe_pairs",
    """
    WITH t AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != ''))
               AS w
      FROM documents
    ),
    wf AS (SELECT w, count(*) AS f FROM t GROUP BY w),
    p AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, CAST(i AS INT), 2))) AS p,
             f
      FROM wf WHERE length(w) >= 2
    )
    SELECT substr(p, 1, 1) AS a, substr(p, 2, 1) AS b,
           CAST(sum(f) AS BIGINT) AS cnt
    FROM p GROUP BY 1, 2
    """,
)
def q_bpe_pairs(spark, sf_dir):
    """BPE merge statistics (operators/text.bpe_pair_counts): corpus
    counts of adjacent character pairs inside words, weighted by word
    frequency — computed over the collapsed word-frequency table the
    way BPE trainers do. The oracle replays tokenization, the word
    collapse, the pair explode and the weighted sum; every (a, b,
    cnt) row must match."""
    from hope_graph_builder_spark.operators import text as textops

    return textops.bpe_pair_counts(_docs(spark, sf_dir))


@register(
    "c_quota_cap",
    """
    WITH h AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#q0'), 1, 15))
                  AS BIGINT) AS _h
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY _h, doc_id) - 1
                  AS BIGINT) AS grp_rank
      FROM h
    )
    SELECT doc_id, source, grp_rank FROM r WHERE grp_rank < 8
    """,
)
def q_quota_cap(spark, sf_dir):
    """Per-group corpus balancing, hash mode (operators/corpus
    .quota_cap): at most 8 docs per source, selected by the salted
    60-bit hash order. The oracle is the NAIVE single-window rank —
    the operator's two-phase bucket decomposition (offsets + live-
    bucket filter + within-bucket rank) must reproduce it row-for-row
    including every grp_rank, pinning the decomposition as exact."""
    from hope_graph_builder_spark.operators import corpus

    d = _docs(spark, sf_dir).select("doc_id", "source")
    return corpus.quota_cap(d, quota=8, by="source", salt="q0")


@register(
    "c_quota_cap_quality",
    """
    WITH q AS (
      SELECT doc_id, source,
             CAST(doc_id % 97 AS DOUBLE) / 96.0 AS quality
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, quality,
             CAST(row_number() OVER (
                    PARTITION BY source ORDER BY quality DESC, doc_id) - 1
                  AS BIGINT) AS grp_rank
      FROM q
    )
    SELECT doc_id, source, quality, grp_rank FROM r WHERE grp_rank < 5
    """,
)
def q_quota_cap_quality(spark, sf_dir):
    """quota_cap, quality mode: the TOP 5 per source by (quality desc,
    id) — quality synthesized as an exact dyadic-free but IEEE-exact
    division (doc_id % 97) / 96.0, identical in both engines. The
    quality-band buckets (floor((1-q)·64)) must land every row in a
    bucket consistent with the selection order; the naive-window
    oracle catches any band/tie-break mistake."""
    from hope_graph_builder_spark.operators import corpus

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        ((F.col("doc_id") % 97).cast("double") / F.lit(96.0)).alias("quality"),
    )
    return corpus.quota_cap(d, quota=5, by="source", quality_col="quality")


@register(
    "w_host_boilerplate",
    """
    WITH d AS (
      SELECT doc_id, 'h' || CAST(doc_id % 37 AS VARCHAR) AS host,
             CASE WHEN doc_id % 2 = 0
                  THEN 'cookie-banner h' || CAST(doc_id % 37 AS VARCHAR)
                       || ' accept-cookies-now' || chr(10) ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                  THEN 'promo h' || CAST(doc_id % 37 AS VARCHAR)
                       || ' subscribe-today' || chr(10) ELSE '' END
             || replace(text, ' the ', chr(10)) AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, host, p.line AS line, p.pos - 1 AS pos FROM (
        SELECT doc_id, host, unnest(list_transform(string_split(text, chr(10)),
               (x, i) -> struct_pack(line := x, pos := i))) AS p
        FROM d)
    ),
    hp AS (SELECT host, count(*) AS n_pages FROM d GROUP BY 1),
    pp AS (
      SELECT DISTINCT host, line, doc_id FROM lines WHERE length(line) >= 10
    ),
    boiler AS (
      SELECT p.host, p.line
      FROM (SELECT host, line, count(*) AS df_pages FROM pp GROUP BY 1, 2) p
      JOIN hp USING (host)
      WHERE n_pages >= 2 AND df_pages * 1000000 >= 400000 * n_pages
    ),
    kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM lines l LEFT JOIN boiler b ON l.host = b.host AND l.line = b.line
      WHERE b.line IS NULL
    ),
    re AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(re.clean_text, '') AS clean_text,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT)
             - coalesce(re.n_kept, 0) AS n_removed
    FROM d LEFT JOIN re USING (doc_id)
    """,
)
def q_host_boilerplate(spark, sf_dir):
    """Per-host boilerplate strip (operators/web.host_boilerplate_strip):
    the fixture plants a cookie banner on ~half of every host's pages
    (above the 0.4 ratio gate → stripped from ALL its occurrences) and
    a promo line on ~20% (below the gate → kept), on top of natural
    ' the '-delimited lines that never clear the gate. The oracle
    replays page-presence counts, the integer-exact ppm ratio test,
    the every-occurrence strip and the ordered reassembly."""
    from hope_graph_builder_spark.operators import web

    host = F.concat(F.lit("h"), (F.col("doc_id") % 37).cast("string"))
    d = _docs(spark, sf_dir).select(
        "doc_id",
        host.alias("host"),
        F.concat(
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("cookie-banner "), host, F.lit(" accept-cookies-now\n")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("promo "), host, F.lit(" subscribe-today\n")),
            ).otherwise(F.lit("")),
            F.replace(F.col("text"), F.lit(" the "), F.lit("\n")),
        ).alias("text"),
    )
    out = web.host_boilerplate_strip(d, min_ratio=0.4, min_pages=2, min_chars=10)
    return out.select(
        "doc_id", "clean_text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


@register(
    "t_charlm_score",
    """
    WITH d AS (SELECT doc_id, lower(text) AS s FROM documents),
    tr AS (
      SELECT doc_id, unnest(CASE WHEN length(s) >= 3
        THEN list_transform(range(1, length(s) - 1), i -> substr(s, CAST(i AS INT), 3))
        ELSE [CAST(NULL AS VARCHAR)] END) AS tri
      FROM d
    ),
    ctri AS (
      SELECT tri, count(*) AS c FROM tr
      WHERE doc_id % 10 = 0 AND tri IS NOT NULL GROUP BY 1
    ),
    cbi AS (
      SELECT substr(tri, 1, 2) AS bi, CAST(sum(c) AS BIGINT) AS cb
      FROM ctri GROUP BY 1
    ),
    vv AS (
      SELECT count(DISTINCT ch) AS v FROM (
        SELECT unnest([substr(tri,1,1), substr(tri,2,1), substr(tri,3,1)]) AS ch
        FROM ctri
      )
    ),
    tlm AS (
      SELECT tri, CAST(round_even(ln((c + 1) / (cb + v)), 5) AS DECIMAL(16,5)) AS lp_q
      FROM ctri JOIN cbi ON substr(ctri.tri, 1, 2) = cbi.bi CROSS JOIN vv
    ),
    blm AS (
      SELECT bi, CAST(round_even(ln(1.0 / (cb + v)), 5) AS DECIMAL(16,5)) AS lp0_q
      FROM cbi CROSS JOIN vv
    ),
    vfloor AS (
      SELECT CAST(round_even(ln(1.0 / v), 5) AS DECIMAL(16,5)) AS lnv_q FROM vv
    ),
    j AS (
      SELECT t.doc_id, t.tri,
             CASE WHEN t.tri IS NULL THEN NULL
                  ELSE coalesce(tlm.lp_q, blm.lp0_q, vfloor.lnv_q) END AS lp
      FROM tr t
      LEFT JOIN tlm ON tlm.tri = t.tri
      LEFT JOIN blm ON blm.bi = substr(t.tri, 1, 2)
      CROSS JOIN vfloor
    )
    SELECT doc_id, CAST(count(tri) AS BIGINT) AS n_tri,
           CAST(sum(lp) AS DOUBLE) AS sum_lp_d,
           CASE WHEN count(tri) > 0
                THEN round_even(-CAST(sum(lp) AS DOUBLE) / count(tri), 5) END AS avg_nll
    FROM j GROUP BY doc_id
    """,
)
def q_charlm_score(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/text.train_char_lm +
    char_lm_score): every 10th document plays the clean reference
    corpus; every document is scored by mean negative log-likelihood
    under the smoothed conditional trigram model. The oracle replays
    training (trigram counts, prefix-bigram totals, the V-char
    alphabet, 5-dp-quantized log-probs) AND scoring (the three-level
    backoff, order-free decimal sum, final division) — model contents
    and every doc's trajectory must match, not just the ranking."""
    from hope_graph_builder_spark.operators import text as t

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    lm = t.train_char_lm(docs.filter(F.col("doc_id") % 10 == 0))
    return t.char_lm_score(docs, lm).select(
        "doc_id",
        "n_tri",
        F.col("sum_lp").cast("double").alias("sum_lp_d"),
        "avg_nll",
    )


@register(
    "t_lang_id_ngram",
    """
    WITH d AS (SELECT doc_id, lang, lower(text) AS s FROM documents),
    tri AS (
      SELECT doc_id, lang, unnest(
        CASE WHEN length(s) >= 3
             THEN list_transform(range(1, length(s) - 1), i -> substr(s, CAST(i AS INT), 3))
             ELSE [] END) AS tri
      FROM d
    ),
    cnt AS (SELECT lang AS plang, tri, count(*) AS c FROM tri GROUP BY 1, 2),
    prof AS (
      SELECT plang, tri FROM (
        SELECT *, row_number() OVER (PARTITION BY plang ORDER BY c DESC, tri) AS rn
        FROM cnt
      ) WHERE rn <= 20
    ),
    hits AS (
      SELECT t.doc_id, p.plang, count(*) AS hc
      FROM tri t JOIN prof p USING (tri) GROUP BY 1, 2
    ),
    pred AS (
      SELECT doc_id, plang FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hc DESC, plang) AS rn
        FROM hits
      ) WHERE rn = 1
    )
    SELECT d.doc_id, coalesce(pred.plang, 'und') AS predicted,
           coalesce(pred.plang, 'und') = d.lang AS is_correct
    FROM d LEFT JOIN pred USING (doc_id)
    """,
)
def q_lang_id_ngram(spark, sf_dir):
    """Character-trigram language ID (Cavnar-Trenkle-shaped): profiles
    self-trained from the labeled corpus (top-20 trigrams per lang,
    deterministic tie-breaks), classification by profile-hit argmax.
    The oracle replays training AND classification, so profile
    contents, hit counts and tie-breaks must all match. (is_correct is
    reported but NOT meaningful on this fixture: the synthetic corpus
    draws text from one shared vocabulary regardless of the lang
    label, so no classifier can beat chance here — the operator's
    mechanics, not fixture accuracy, are what is verified.)"""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    profiles = text.train_lang_profiles(docs, top_n=20)
    return text.lang_id_ngram(docs, profiles)


@register(
    "t_lang_ngram_expr",
    """
    WITH d AS (SELECT doc_id, lang, lower(text) AS s FROM documents),
    tri AS (
      SELECT doc_id, lang, unnest(
        CASE WHEN length(s) >= 3
             THEN list_transform(range(1, length(s) - 1), i -> substr(s, CAST(i AS INT), 3))
             ELSE [] END) AS tri
      FROM d
    ),
    cnt AS (SELECT lang AS plang, tri, count(*) AS c FROM tri GROUP BY 1, 2),
    prof AS (
      SELECT plang, tri FROM (
        SELECT *, row_number() OVER (PARTITION BY plang ORDER BY c DESC, tri) AS rn
        FROM cnt
      ) WHERE rn <= 20
    ),
    hits AS (
      SELECT t.doc_id, p.plang, count(*) AS hc
      FROM tri t JOIN prof p USING (tri) GROUP BY 1, 2
    ),
    pred AS (
      SELECT doc_id, plang FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hc DESC, plang) AS rn
        FROM hits
      ) WHERE rn = 1
    )
    SELECT d.doc_id, coalesce(pred.plang, 'und') AS predicted
    FROM d LEFT JOIN pred USING (doc_id)
    """,
)
def q_lang_ngram_expr(spark, sf_dir):
    """The STATELESS serving form of the trigram classifier
    (text.lang_pred_ngram_expr): the trained profiles are carried as
    literal arrays and hit counting is a per-row native array fold —
    zero shuffles, which is what lets the streaming webtext ingest
    classify in-stream (train-batch/serve-stream). Must value-match
    the distributed explode+broadcast-join classifier's oracle
    exactly: same training, same per-occurrence counts, same argmax
    tie-breaks, same 'und' fallback."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    profiles = text.collect_profiles(text.train_lang_profiles(docs, top_n=20))
    d = text.with_char_trigrams(docs, text="text", out="_tri")
    return d.select(
        "doc_id",
        text.lang_pred_ngram_expr(F.col("_tri"), profiles).alias("predicted"),
    )
