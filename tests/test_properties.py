"""Property-based tests (SURVEY §5): validation partitioning,
first-failure-wins rule order, dedup idempotence, merge key algebra.

Example counts are kept small — each example round-trips through a
Spark job, so the budget goes to input diversity (nulls, negatives,
duplicate keys) rather than volume.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakehouse_architecture_transaction_spark.functions.validation import not_null, positive, validate
from lakehouse_architecture_transaction_spark.operators.dedup import dedup_exact
from lakehouse_architecture_transaction_spark.operators.merge import merge_upsert

ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 5)),  # key (few values → collisions)
        st.one_of(st.none(), st.floats(-10, 10, allow_nan=False)),  # amount
    ),
    min_size=0,
    max_size=12,
)

_SETTINGS = settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, amount double")


@_SETTINGS
@given(rows=ROWS)
def test_validate_partitions_exactly_and_first_rule_wins(spark, rows):
    rules = [not_null("k", "Null k"), positive("amount", "Non-positive amount")]
    res = validate(_df(spark, rows), rules=rules)
    valid = res.valid.collect()
    rejected = res.rejected.collect()
    # exact partition of the input
    assert len(valid) + len(rejected) == len(rows)
    # python oracle for the first-failing-rule message
    def expected(k, amount):
        if k is None:
            return "Null k"
        if amount is not None and amount <= 0:
            return "Non-positive amount"
        return None

    got = sorted(((r["k"], r["amount"], r["validation_errors"]) for r in rejected), key=str)
    want = sorted(
        ((k, a, expected(k, a)) for (k, a) in rows if expected(k, a) is not None), key=str
    )
    assert got == want
    assert all(expected(r["k"], r["amount"]) is None for r in valid)


@_SETTINGS
@given(rows=ROWS)
def test_dedup_exact_idempotent_unique_and_deterministic(spark, rows):
    df = _df(spark, rows)
    once = dedup_exact(df, keys=["k"])
    twice = dedup_exact(once, keys=["k"])
    got_once = sorted(map(tuple, once.collect()), key=str)
    got_twice = sorted(map(tuple, twice.collect()), key=str)
    assert got_once == got_twice  # idempotent
    keys = [r["k"] for r in once.collect()]
    assert len(keys) == len(set(keys))  # one survivor per key
    # survivor = min by the remaining column (nulls last), per contract
    by_key: dict = {}
    for k, a in rows:
        cur = by_key.get(k, "missing")
        if cur == "missing":
            by_key[k] = a
        else:
            if cur is None or (a is not None and a < cur):
                by_key[k] = a
    assert {r["k"]: r["amount"] for r in once.collect()} == by_key


@_SETTINGS
@given(target=ROWS, source=ROWS)
def test_merge_upsert_key_algebra(spark, target, source):
    # unique-key inputs (merge contract), preserving first occurrence
    t = {k: a for k, a in reversed(target)}
    s = {k: a for k, a in reversed(source)}
    tdf, sdf = _df(spark, list(t.items())), _df(spark, list(s.items()))
    merged = {r["k"]: r["amount"] for r in merge_upsert(tdf, sdf, keys=["k"]).collect()}
    want = {**t, **s}  # source wins on matches, inserts otherwise
    assert merged == want


@_SETTINGS
@given(
    weights=st.lists(st.integers(0, 100), min_size=1, max_size=24),
    budget=st.integers(1, 64),
    block=st.integers(1, 8),
)
def test_packed_sequences_is_exclusive_prefix_sum(spark, weights, budget, block):
    # The bucketed implementation must equal the sequential definition
    # for ANY id spacing / block size: start_offset[i] = sum of
    # weights of all earlier ids; seq = start // budget.
    from lakehouse_architecture_transaction_spark.operators.sampling import packed_sequences

    rows = [(i * 3, w) for i, w in enumerate(weights)]  # gappy ids
    df = spark.createDataFrame(rows, "id long, w long")
    out = {
        r["id"]: (r["start_offset"], r["seq_idx"])
        for r in packed_sequences(df, "id", "w", budget=budget, block=block).collect()
    }
    acc = 0
    for i, w in enumerate(weights):
        assert out[i * 3] == (acc, acc // budget)
        acc += w


@_SETTINGS
@given(ids=st.lists(st.integers(0, 10_000), min_size=0, max_size=30, unique=True))
def test_shuffle_and_shard_is_a_permutation(spark, ids):
    # Global positions must be exactly 0..n-1 (no dupes, no gaps) for
    # any id set — the bucketed prefix-sum can't skip or repeat.
    from lakehouse_architecture_transaction_spark.operators.sampling import shuffle_and_shard

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = sorted(
        r["shuffle_pos"] for r in shuffle_and_shard(df, "id", batch_size=7).collect()
    )
    assert got == list(range(len(ids)))


@_SETTINGS
@given(
    vals=st.lists(st.integers(0, 6), min_size=2, max_size=40),
    ngroups=st.integers(1, 3),
)
def test_grouped_percent_rank_matches_window(spark, vals, ngroups):
    # The bucketed grouped percent_rank must equal the native window
    # functions for ANY tie structure and group layout.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_percent_rank

    rows = [(i, i % ngroups, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, g int, v double")
    got = {
        (r["id"]): (r["pct_rank"], r["cume_dist"])
        for r in grouped_percent_rank(df, group_cols=["g"], value_col="v").collect()
    }
    w = Window.partitionBy("g").orderBy(F.col("v").asc())
    want = {
        r["id"]: (r["pr"], r["cd"])
        for r in df.select(
            "id", F.percent_rank().over(w).alias("pr"), F.cume_dist().over(w).alias("cd")
        ).collect()
    }
    assert got == want


@_SETTINGS
@given(
    vals=st.lists(st.integers(0, 6), min_size=2, max_size=40),
    ngroups=st.integers(1, 3),
)
def test_grouped_exact_rank_matches_window(spark, vals, ngroups):
    # The bucketed grouped row_number must equal the native grouped
    # window for ANY tie structure and group layout (ties broken by the
    # id tiebreaker in both).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_exact_rank

    rows = [(i, i % ngroups, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, g int, v double")
    got = {
        r["id"]: r["rank"]
        for r in grouped_exact_rank(
            df, group_cols=["g"], value_col="v", tiebreakers=["id"]
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = {r["id"]: r["rn"] for r in df.select("id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want


def test_grouped_exact_rank_degenerate_distributions(spark):
    # (a) every row one value in one group — since r9 the tie-aware
    # bucket sub-splits the all-tied value by the id tiebreaker, and
    # ranks stay the exact 1..n permutation; (b) 10k one-row groups —
    # every rank is 1; both through the broadcast offset path.
    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_exact_rank
    from pyspark.sql import functions as F

    n = 10_000
    one_val = spark.range(n).selectExpr("id", "'g0' AS g", "CAST(7.5 AS double) AS v")
    out = grouped_exact_rank(one_val, group_cols=["g"], value_col="v", tiebreakers=["id"])
    agg = out.agg(
        F.count("*").alias("n"), F.min("rank").alias("lo"), F.max("rank").alias("hi"),
        F.countDistinct("rank").alias("d"),
    ).collect()[0]
    assert (agg["n"], agg["lo"], agg["hi"], agg["d"]) == (n, 1, n, n)
    # ranks follow the id tiebreaker exactly
    assert out.filter(F.col("rank") != F.col("id") + 1).count() == 0

    singletons = spark.range(n).selectExpr("id", "concat('g', id) AS g", "CAST(id AS double) AS v")
    out2 = grouped_exact_rank(singletons, group_cols=["g"], value_col="v", tiebreakers=["id"])
    agg2 = out2.agg(F.count("*").alias("n"), F.max("rank").alias("hi")).collect()[0]
    assert (agg2["n"], agg2["hi"]) == (n, 1)


def test_grouped_exact_rank_nulls_match_window(spark):
    # NULL group keys form a real group; NULL values rank lowest
    # (NULLS FIRST asc) — same as the native window.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_exact_rank

    rows = [
        (0, "a", None), (1, "a", 1.0), (2, "a", 1.0), (3, "a", 2.0),
        (4, None, 5.0), (5, None, None), (6, None, 5.0),
        (7, "b", None), (8, "b", None),
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = grouped_exact_rank(df, group_cols=["g"], value_col="v", tiebreakers=["id"]).collect()
    assert len(out) == len(rows)
    got = {r["id"]: r["rank"] for r in out}
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = {r["id"]: r["rn"] for r in df.select("id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want


@_SETTINGS
@given(n=st.integers(12, 28))
def test_product_quantize_codes_complete_and_in_range(spark, n):
    # Every (vector, subspace) gets exactly one code in [0, k); seeds
    # code to themselves in round 0 semantics (their nearest centroid
    # after the update can move, but codes stay valid).
    from lakehouse_architecture_transaction_spark.operators.similarity import product_quantize

    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)]) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = product_quantize(df, id_col="id", vec_col="vec", m=4, dsub=2, k=4, iters=1).collect()
    seen = {(r["id"], r["subspace"]) for r in out}
    assert seen == {(i, s) for i in range(n) for s in range(4)}
    assert all(0 <= r["code"] < 4 for r in out)

def test_grouped_percent_rank_nulls_match_window(spark):
    # Native PERCENT_RANK/CUME_DIST rank NULL values (NULLS FIRST under
    # asc order) and treat a NULL group key as a real group; the
    # bucketed implementation's null-safe join-back must not drop them.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_percent_rank

    rows = [
        (0, "a", None), (1, "a", 1.0), (2, "a", 1.0), (3, "a", 2.0),
        (4, None, 5.0), (5, None, None), (6, None, 5.0),
        (7, "b", None), (8, "b", None),
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = grouped_percent_rank(df, group_cols=["g"], value_col="v").collect()
    assert len(out) == len(rows)  # nothing silently dropped
    got = {r["id"]: (r["pct_rank"], r["cume_dist"]) for r in out}
    w = Window.partitionBy("g").orderBy(F.col("v").asc())
    want = {
        r["id"]: (r["pr"], r["cd"])
        for r in df.select(
            "id", F.percent_rank().over(w).alias("pr"), F.cume_dist().over(w).alias("cd")
        ).collect()
    }
    assert got == want


def test_grouped_percent_rank_degenerate_distributions(spark):
    # Adversarial tie layouts at non-toy n: (a) EVERY row one value in
    # one group — all pct_rank 0, cume_dist 1; (b) many one-row groups —
    # pct_rank 0 per SQL (n-1 == 0 ⇒ defined as 0), cume_dist 1; both
    # through the broadcast triangular-offset path at 10k+ rows.
    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_percent_rank

    n = 10_000
    one_val = spark.range(n).selectExpr("id", "'g0' AS g", "CAST(7.5 AS double) AS v")
    out = grouped_percent_rank(one_val, group_cols=["g"], value_col="v")
    agg = out.selectExpr(
        "count(*) AS n", "max(abs(pct_rank)) AS maxpr", "min(cume_dist) AS mincd"
    ).collect()[0]
    assert agg["n"] == n and agg["maxpr"] == 0.0 and agg["mincd"] == 1.0

    singletons = spark.range(n).selectExpr(
        "id", "concat('g', id) AS g", "CAST(id AS double) AS v"
    )
    out2 = grouped_percent_rank(singletons, group_cols=["g"], value_col="v")
    agg2 = out2.selectExpr(
        "count(*) AS n", "max(abs(pct_rank)) AS maxpr", "min(cume_dist) AS mincd"
    ).collect()[0]
    assert agg2["n"] == n and agg2["maxpr"] == 0.0 and agg2["mincd"] == 1.0

def test_probe_shell_is_exact_hamming_ball(spark):
    # probe_shell_expr(bits, radius) must produce EXACTLY the Hamming
    # ball around the bucket: 1 + C(b,1) + C(b,2) distinct strings for
    # radius 2, each within distance 2 — for every bucket value.
    from itertools import combinations

    from lakehouse_architecture_transaction_spark.operators.similarity import probe_shell_expr
    from pyspark.sql import functions as F

    for bits, radius in [(4, 1), (6, 2), (3, 2)]:
        buckets = [format(i, f"0{bits}b") for i in range(2**bits)]
        df = spark.createDataFrame([(b,) for b in buckets], "bkt string")
        got = {
            r["bkt"]: set(r["probes"])
            for r in df.select("bkt", probe_shell_expr("bkt", bits, radius).alias("probes")).collect()
        }
        for b in buckets:
            want = {b}
            for r in range(1, radius + 1):
                for pos in combinations(range(bits), r):
                    s = list(b)
                    for p in pos:
                        s[p] = "0" if s[p] == "1" else "1"
                    want.add("".join(s))
            assert got[b] == want, (b, bits, radius)


def test_variance_top_dims_matches_numpy(spark):
    # The exact-integer variance score must select the same dims as
    # numpy variance (well-separated variances; ties impossible here).
    import numpy as np

    from lakehouse_architecture_transaction_spark.operators.similarity import variance_top_dims

    rng = np.random.default_rng(7)
    scales = rng.permutation(np.linspace(0.05, 1.0, 16))
    X = rng.normal(0, 1, (200, 16)) * scales
    df = spark.createDataFrame([(i, row.tolist()) for i, row in enumerate(X)], "id long, vec array<double>")
    got = variance_top_dims(df, "vec", bits=5).collect()[0]["__dims"]
    want = sorted(np.argsort(-X.var(axis=0))[:5].tolist())
    assert sorted(got) == want

@_SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_pagerank_mass_and_node_coverage(spark, edges):
    # For ANY directed graph: every src/dst node appears in the output,
    # total rank mass stays ~1 (dangling redistribution, quantization
    # loses <= 1e-9 per edge per round), and ranks are positive.
    from lakehouse_architecture_transaction_spark.operators.graph import pagerank

    df = spark.createDataFrame([(a, b, 1) for a, b in edges], "src long, dst long, w long")
    out = {r["node"]: r["pagerank"] for r in pagerank(df, "src", "dst", "w", iters=4).collect()}
    want_nodes = {a for a, _ in edges} | {b for _, b in edges}
    assert set(out) == want_nodes
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert all(v > 0 for v in out.values())

@_SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="ab .!?", min_size=0, max_size=120), min_size=1, max_size=6
    )
)
def test_sentence_chunks_partition_sentences(spark, texts):
    # Every sentence lands in exactly one chunk: per-doc sentence
    # counts across chunks must equal the segmentation's sentence
    # count, chunk char totals must sum to the doc's non-separator
    # chars, and chunk indices must be non-negative and sorted with
    # first_sentence increasing.
    from lakehouse_architecture_transaction_spark.operators.text import sentence_chunks

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = sentence_chunks(docs, id_col="doc_id", text_col="text", budget=32).collect()
    import re

    for i, t in enumerate(texts):
        marked = re.sub(r"([.!?]) ", "\\1\x01", t)
        sents = marked.split("\x01")
        rows = sorted((r for r in out if r["doc_id"] == i), key=lambda r: r["chunk_idx"])
        assert sum(r["n_sentences"] for r in rows) == len(sents)
        assert sum(r["n_chars"] for r in rows) == sum(len(s) for s in sents)
        firsts = [r["first_sentence"] for r in rows]
        assert firsts == sorted(firsts)
        assert all(r["chunk_idx"] >= 0 for r in rows)

@_SETTINGS
@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=15),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(-5, 5)),
        min_size=0,
        max_size=15,
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    # The as-of join must agree with pandas merge_asof (backward,
    # inclusive, by-key) for ANY key/time layout — including duplicate
    # right timestamps, where BOTH define the match as the LAST right
    # row at or before the left time.
    import pandas as pd

    from lakehouse_architecture_transaction_spark.operators.asof import asof_join

    # dedupe (key, t) on the right the way a real history table is
    # unique per (key, ts); keep the max payload deterministically
    rd = {}
    for k, t, v in right:
        rd[(k, t)] = max(v, rd.get((k, t), v))
    right_rows = [(k, t, float(v)) for (k, t), v in sorted(rd.items())]
    left_rows = [(i, k, t) for i, (k, t) in enumerate(left)]
    ldf = spark.createDataFrame(left_rows, "i long, k long, t long") if left_rows else None
    if ldf is None:
        return
    rdf = spark.createDataFrame(right_rows, "k long, t long, v double") if right_rows else (
        spark.createDataFrame([], "k long, t long, v double")
    )
    got = {
        r["i"]: r["v"]
        for r in asof_join(ldf, rdf, "k", "k", "t", "t", payload=["v"]).collect()
    }
    lp = (
        pd.DataFrame(left_rows, columns=["i", "k", "t"])
        .astype({"i": "int64", "k": "int64", "t": "int64"})
        .sort_values("t", kind="mergesort")
    )
    rp = (
        pd.DataFrame(right_rows, columns=["k", "t", "v"])
        .astype({"k": "int64", "t": "int64", "v": "float64"})
        .sort_values("t", kind="mergesort")
    )
    mp = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
    want = {int(r.i): (None if pd.isna(r.v) else float(r.v)) for r in mp.itertuples()}
    assert got == want

@_SETTINGS
@given(
    vals=st.lists(st.integers(0, 5), min_size=1, max_size=30),
    n=st.integers(1, 7),
)
def test_ntile_exact_matches_native_for_any_ties(spark, vals, n):
    # The bucketed exact NTILE must equal the native window NTILE for
    # ANY tie structure, row count, and tile count (incl. n > rows).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.ranking import ntile_exact

    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        r["id"]: r["tile"]
        for r in ntile_exact(df, value_col="v", tiebreakers=["id"], n=n).collect()
    }
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = {r["id"]: r["t"] for r in df.select("id", F.ntile(n).over(w).alias("t")).collect()}
    assert got == want


@_SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=14
    ),
    extra=st.sets(st.integers(0, 9), max_size=4),
)
def test_connected_components_matches_union_find(spark, edges, extra):
    # Min-label propagation must produce EXACTLY the union-find
    # components (component id = min member) for any graph, including
    # self-loops and isolated vertices.
    from lakehouse_architecture_transaction_spark.operators.graph import connected_components

    verts = sorted({a for a, _ in edges} | {b for _, b in edges} | extra)
    if not verts:
        return
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in verts}
    vdf = spark.createDataFrame([(v,) for v in verts], "id long")
    edf = spark.createDataFrame(edges or [(verts[0], verts[0])], "src long, dst long")
    if not edges:
        edf = edf.limit(0)
    got = {
        r["id"]: r["component"]
        for r in connected_components(vdf, edf, id_col="id", src_col="src", dst_col="dst").collect()
    }
    assert got == want


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=1000), min_size=0, max_size=12),
        min_size=0,
        max_size=30,
    )
)
def test_hash_embed_matches_python_reference_fuzz(spark, words):
    # hash_embed vs the pure-python reference on ARBITRARY tokens —
    # unicode, empties, duplicates — not just the unit test's fixtures.
    import hashlib
    import math

    from lakehouse_architecture_transaction_spark.operators.text import hash_embed

    import re

    dim = 8
    text = " ".join(words)
    # ASCII whitespace ONLY: Spark's Java regex \s and DuckDB's RE2 \s
    # agree on [ \t\n\x0b\f\r]; Python str.split() would also split
    # on unicode spaces (NBSP etc.) and diverge from BOTH engines —
    # this fuzz test caught exactly that when it used str.split().
    toks = [w for w in re.split(r"[ \t\n\x0b\f\r]+", text) if w]

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    raw = [0] * dim
    for t in toks:
        raw[h32(t) % dim] += 1 if h32(t + "#s") % 2 == 0 else -1
    n = math.sqrt(float(sum(v * v for v in raw))) or 1.0
    want = [v / n for v in raw]

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = hash_embed(df, "doc_id", "text", dim=dim).collect()
    if not toks:
        # no tokens -> explode drops the doc (documented: tokenless
        # docs carry no embedding)
        assert rows == [] or list(rows[0]["embedding"]) == [0.0] * dim
    else:
        assert list(rows[0]["embedding"]) == want


@_SETTINGS
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_gopher_flags_match_python_oracle(spark, texts):
    # passes_gopher must equal the conjunction of its own emitted
    # rule measurements — the combined verdict can never disagree
    # with the audit columns it ships alongside.
    from lakehouse_architecture_transaction_spark.operators.text import (
        GOPHER_BOUNDS as B,
        gopher_quality_flags,
    )

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for r in gopher_quality_flags(docs, "doc_id", "text").collect():
        want = int(
            B["min_words"] <= r["n_words"] <= B["max_words"]
            and B["min_mean_word_len"] <= r["mean_word_len"] <= B["max_mean_word_len"]
            and r["symbol_ratio"] <= B["max_symbol_ratio"]
            and r["bullet_ratio"] <= B["max_bullet_ratio"]
            and r["alpha_word_ratio"] >= B["min_alpha_word_ratio"]
            and r["n_stop_hits"] >= B["min_stop_hits"]
        )
        assert r["passes_gopher"] == want
        for c in ("symbol_ratio", "bullet_ratio", "alpha_word_ratio"):
            assert r[c] >= 0.0


@_SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=1, max_size=8
    )
)
def test_shingle_novelty_bounds_and_first_doc_full(spark, texts):
    # ratio in [0,1]; the LOWEST doc id holding any shingles is fully
    # novel by the min-id definition; n_seen <= n_shingles always.
    from lakehouse_architecture_transaction_spark.operators.dedup import shingle_novelty

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = shingle_novelty(docs, "text", "doc_id", n=2).collect()
    if not rows:
        return
    for r in rows:
        assert 0 <= r["n_seen"] <= r["n_shingles"]
        assert 0.0 <= r["novelty_ratio"] <= 1.0
    first = min(r["doc_id"] for r in rows)
    fr = next(r for r in rows if r["doc_id"] == first)
    assert fr["n_seen"] == 0 and fr["novelty_ratio"] == 1.0


@_SETTINGS
@given(
    groups=st.lists(
        st.one_of(st.none(), st.text(max_size=8)), min_size=1, max_size=15
    ),
    k=st.integers(2, 7),
)
def test_grouped_fold_assign_total_coherent_subset_stable(spark, groups, k):
    # every row folded (nulls included), folds coherent per group, and
    # any subset assigns identically (incremental-ingest stability).
    from lakehouse_architecture_transaction_spark.operators.sampling import grouped_fold_assign

    rows = [(i, g) for i, g in enumerate(groups)]
    df = spark.createDataFrame(rows, "id long, g string")
    out = grouped_fold_assign(df, "g", k=k).collect()
    assert len(out) == len(rows)
    by_group: dict = {}
    for r in out:
        assert r["fold"] is not None and 0 <= r["fold"] < k
        by_group.setdefault(r["g"], set()).add(r["fold"])
    assert all(len(v) == 1 for v in by_group.values())
    sub = grouped_fold_assign(df.filter("id % 2 = 0"), "g", k=k).collect()
    folds = {g: next(iter(v)) for g, v in by_group.items()}
    assert all(r["fold"] == folds[r["g"]] for r in sub)


@_SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="abcde fg.\n", min_size=0, max_size=60), min_size=1, max_size=8
    )
)
def test_char_diversity_bounds_and_identities(spark, texts):
    # Simpson diversity ∈ [0, 1); effective alphabet ∈ [1, distinct];
    # a one-distinct-char doc has diversity exactly 0 / alphabet 1;
    # all-distinct chars give effective alphabet == n_chars exactly.
    from lakehouse_architecture_transaction_spark.plans.text import docs_char_diversity

    rows = [(i, t, "s", "en", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, lang string, n_chars long")
    import lakehouse_architecture_transaction_spark.catalog as cat

    orig = cat.load_table
    try:
        cat.load_table = lambda _s, _d, _n, **k: df
        import lakehouse_architecture_transaction_spark.plans.text as p4

        p4.load_table = cat.load_table
        out = {r["doc_id"]: r for r in docs_char_diversity(spark, "ignored").collect()}
    finally:
        cat.load_table = orig
        import lakehouse_architecture_transaction_spark.plans.text as p4

        p4.load_table = orig
    for i, t in enumerate(texts):
        if not t:
            assert i not in out  # empty text has no char rows
            continue
        r = out[i]
        distinct = len(set(t))
        assert r["n_chars"] == len(t)
        assert r["distinct_chars"] == distinct
        assert 0.0 <= r["simpson_diversity"] < 1.0
        assert 1.0 - 1e-12 <= r["effective_alphabet"] <= distinct + 1e-9
        if distinct == 1:
            assert r["simpson_diversity"] == 0.0
            assert r["effective_alphabet"] == 1.0
        if distinct == len(t):
            assert abs(r["effective_alphabet"] - len(t)) < 1e-9


def test_containment_dominates_jaccard_on_corpus(spark, sf_dir):
    # Algebraic identity on the real corpus: for every pair both
    # miners emit, max-containment ≥ jaccard (|A∩B|/min-side ≥
    # |A∩B|/union) — and both sides derive from the SAME shingle
    # universe (same max_df cut), so the comparison is exact.
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, text_col="text", id_col="doc_id", n=3, threshold=0.1, max_df=100
        ).collect()
    }
    cont = {
        (r["id_a"], r["id_b"]): max(r["containment_a"], r["containment_b"])
        for r in ngram_containment_pairs(
            docs, text_col="text", id_col="doc_id", n=3, threshold=0.0, max_df=100
        ).collect()
    }
    assert jac, "expected at least one jaccard pair in the corpus"
    for pair, j in jac.items():
        assert pair in cont
        assert cont[pair] >= j - 1e-12


# ---------------- timeseries kernels (operators/timeseries.py) --------


def _ts_daily_df(spark, day_vals):
    import datetime

    rows = [
        (datetime.datetime(2024, 1, 1) + datetime.timedelta(days=int(d)), int(v))
        for d, v in day_vals
    ]
    return spark.createDataFrame(rows, "day timestamp, v long")


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    day_vals=st.dictionaries(
        st.integers(0, 24), st.integers(0, 1000), min_size=0, max_size=20
    ).map(lambda d: sorted(d.items()))
)
def test_seasonal_decompose_matches_exact_python_chain(spark, day_vals):
    # The kernel's claim is BIT-exact replayability: every output double
    # is a fixed chain of IEEE ops on exact integers. Replay the chain
    # in Python (ints, then the same divisions/subtraction) and require
    # EXACT float equality — a tolerance here would hide engine drift.
    from lakehouse_architecture_transaction_spark.operators.timeseries import (
        seasonal_decompose,
    )

    got = {
        r["day"]: r
        for r in seasonal_decompose(_ts_daily_df(spark, day_vals), "day", "v").collect()
    }
    vals = dict(day_vals)
    epoch0 = 19723  # 2024-01-01 in epoch days; only offsets matter below
    # python oracle: RANGE window on calendar days, full windows only
    full = {}
    for d, v in vals.items():
        win = [vals[e] for e in range(d - 3, d + 4) if e in vals]
        if len(win) == 7:
            tn = sum(win)
            full[d] = (v, tn, 7 * v - tn, (epoch0 + d + 3) % 7)
    import collections

    s_num = collections.Counter()
    n_ph = collections.Counter()
    for d, (_, _, detr, ph) in full.items():
        s_num[ph] += detr
        n_ph[ph] += 1
    assert set(got) == {
        __import__("datetime").datetime(2024, 1, 1)
        + __import__("datetime").timedelta(days=d)
        for d in full
    }
    for d, (v, tn, detr, ph) in full.items():
        import datetime

        r = got[datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)]
        seasonal = float(s_num[ph]) / (7.0 * float(n_ph[ph]))
        assert r["phase"] == ph
        assert r["v"] == v
        assert r["trend"] == float(tn) / 7.0
        assert r["seasonal"] == seasonal
        assert r["residual"] == float(detr) / 7.0 - seasonal
        # decomposition identity within float rounding of the chain
        assert abs(r["trend"] + r["seasonal"] + r["residual"] - v) < 1e-6


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    day_vals=st.dictionaries(
        st.integers(0, 20), st.integers(0, 10_000), min_size=0, max_size=16
    ).map(lambda d: sorted(d.items()))
)
def test_lagged_autocorr_matches_exact_python_chain(spark, day_vals):
    import math

    from lakehouse_architecture_transaction_spark.operators.timeseries import lagged_autocorr

    got = {
        r["lag"]: r
        for r in lagged_autocorr(_ts_daily_df(spark, day_vals), "day", "v", max_lag=5).collect()
    }
    vals = dict(day_vals)
    for lag in range(1, 6):
        pairs = [(vals[d], vals[d + lag]) for d in vals if d + lag in vals]
        if not pairs:
            assert lag not in got
            continue
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        num = float(n * sxy - sx * sy)
        d1 = float(n * sxx - sx * sx)
        d2 = float(n * syy - sy * sy)
        r = got[lag]
        assert r["n_pairs"] == n
        if n >= 3 and d1 > 0 and d2 > 0:
            want = num / math.sqrt(d1 * d2)
            assert r["autocorr"] == want
            assert -1.0 - 1e-12 <= want <= 1.0 + 1e-12
        else:
            assert r["autocorr"] is None


# ---------------- text kernels (vocab growth, distinctive terms) ------


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(alphabet="ab X", min_size=0, max_size=16), min_size=1, max_size=10
    )
)
def test_vocab_growth_monotone_and_final_cut_is_full_corpus(spark, texts):
    from lakehouse_architecture_transaction_spark.operators.text import vocab_growth

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = sorted(
        vocab_growth(docs, id_col="doc_id", text_col="text", n_checkpoints=4).collect(),
        key=lambda r: r["ckpt"],
    )
    assert [r["ckpt"] for r in rows] == [1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        assert a["n_docs"] <= b["n_docs"]
        assert a["n_tokens"] <= b["n_tokens"]
        assert a["n_distinct_tokens"] <= b["n_distinct_tokens"]
    # last cut == max doc_id → the full corpus
    all_toks = [w.lower() for t in texts for w in t.split() if w != ""]
    last = rows[-1]
    assert last["n_docs"] == len(texts)
    assert last["n_tokens"] == len(all_toks)
    assert last["n_distinct_tokens"] == len(set(all_toks))


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.text(alphabet="ab c", min_size=0, max_size=12),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_source_distinctive_terms_matches_python_lift(spark, docs):
    import collections

    from lakehouse_architecture_transaction_spark.operators.text import (
        source_distinctive_terms,
    )

    sdf = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(docs)],
        "doc_id long, source string, text string",
    )
    got = source_distinctive_terms(
        sdf, id_col="doc_id", text_col="text", group_col="source", k=3, min_corpus_count=2
    ).collect()
    st_counts = collections.Counter()
    for s, t in docs:
        for w in t.split():
            if w != "":
                st_counts[(s, w.lower())] += 1
    tg = collections.Counter()
    ts = collections.Counter()
    for (s, w), c in st_counts.items():
        tg[w] += c
        ts[s] += c
    total = sum(st_counts.values())
    want = []
    for (s, w), c in st_counts.items():
        if tg[w] >= 2:
            want.append((s, w, c, tg[w], float(c * total) / float(ts[s] * tg[w])))
    by_src = collections.defaultdict(list)
    for s, w, c, g, lift in want:
        by_src[s].append((-lift, w, c, g))
    expected = []
    for s, lst in by_src.items():
        for rank, (nl, w, c, g) in enumerate(sorted(lst)[:3], start=1):
            expected.append((s, rank, w, c, g, -nl))
    got_t = sorted(
        (r["source"], r["rank"], r["token"], r["n_in_source"], r["n_in_corpus"], r["lift"])
        for r in got
    )
    assert got_t == sorted(expected)


# ---------------- BPE merge learning (operators/text.py) --------------


def _py_bpe_learn(texts, n_merges):
    import collections

    freq = collections.Counter()
    for t in texts:
        for w in t.split():
            if w != "":
                freq[w.lower()] += 1
    vocab = collections.Counter()
    for w, f in freq.items():
        vocab[tuple(w)] += f
    merges = []
    for rank in range(1, n_merges + 1):
        counts = collections.Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        (l, r), wgt = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, l, r, l + r, wgt))
        new_vocab = collections.Counter()
        for syms, f in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            new_vocab[tuple(out)] += f
        vocab = new_vocab
    return merges


def _py_bpe_segment(word, merges):
    syms = list(word.lower())
    for _, l, r, m, _ in merges:
        out = []
        for x in syms:
            if out and out[-1] == l and x == r:
                out[-1] = m
            else:
                out.append(x)
        syms = out
    return len(syms)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=20), min_size=1, max_size=8
    )
)
def test_bpe_learn_and_segment_match_python_reference(spark, texts):
    # The whole BPE trainer must replay a from-scratch Python
    # implementation exactly: same merges in the same order (weight
    # desc, pair lex asc ties), same greedy left-to-right application
    # (the scan consumes its output), same final segment counts.
    from lakehouse_architecture_transaction_spark.operators.text import (
        bpe_learn_merges,
        bpe_segment,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_learn_merges(docs, "doc_id", "text", n_merges=5)
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["weight"])
        for r in merges.orderBy("rank").collect()
    ]
    want = _py_bpe_learn(texts, 5)
    assert got == want
    seg = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_segment(docs, "doc_id", "text", merges).collect()
    }
    for i, t in enumerate(texts):
        words = [w for w in t.split() if w != ""]
        exp_tokens = sum(_py_bpe_segment(w, want) for w in words)
        assert seg[i] == (len(words), exp_tokens)


def _py_bpe_apply(word, table):
    # per-pass greedy reference returning the SYMBOL LIST (the
    # _py_bpe_segment scan, kept separate so it can't drift with it)
    syms = list(word)
    for l, r, m in table:
        out = []
        for x in syms:
            if out and out[-1] == l and x == r:
                out[-1] = m
            else:
                out.append(x)
        syms = out
    return syms


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=12), min_size=1, max_size=6
    )
)
def test_bpe_alt_route_matches_primary_and_python(spark, words):
    # VERDICT r13 item 6: segment_consistent's two routes must be
    # genuinely independent scans that agree. The alt route
    # (plans/text.py _bpe_apply_alt_expr: active-site/run-parity
    # positional rebuild) must equal BOTH the primary fold
    # (operators/text.py bpe_apply_expr) and the from-scratch Python
    # reference on every word — including the adversarial shapes:
    # l == r runs (alternating consumption), chained merges whose
    # outputs feed later ranks, and merge-output tokens that re-match
    # as LEFT but never as RIGHT within a pass.
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.text import (
        BPE_MERGES_TABLE_EXPR,
        bpe_apply_expr,
    )
    from lakehouse_architecture_transaction_spark.plans.text import _bpe_apply_alt_expr

    table = [("a", "a", "aa"), ("a", "b", "ab"), ("ab", "b", "abb"), ("aa", "ab", "aaab")]
    merges = spark.createDataFrame(
        [(i + 1, l, r, m, 100 - i) for i, (l, r, m) in enumerate(table)],
        "rank long, left string, right string, merged string, weight long",
    )
    tbl = merges.groupBy().agg(F.expr(BPE_MERGES_TABLE_EXPR).alias("__merges"))
    probe = ["aaaa", "aaab", "abab", "aabb", "bbbb", "abbb", "aaaaa", "a", "b"]
    df = (
        spark.createDataFrame([(w,) for w in set(words) | set(probe)], "w string")
        .select("w", F.expr("transform(split(w, ''), c -> c)").alias("wsyms"))
        .crossJoin(F.broadcast(tbl))
        .select(
            "w",
            F.expr(bpe_apply_expr("wsyms", "__merges")).alias("primary"),
            F.expr(_bpe_apply_alt_expr("wsyms", "__merges")).alias("alt"),
        )
    )
    for row in df.collect():
        want = _py_bpe_apply(row["w"], table)
        assert list(row["primary"]) == want, (row["w"], row["primary"], want)
        assert list(row["alt"]) == want, (row["w"], row["alt"], want)


def test_tie_aware_bucket_spreads_flag_column(spark):
    # r8 verdict item 6: a 0/1 flag value column must NOT funnel into
    # 1-2 window tasks when a numeric tiebreaker exists — the
    # composite (value, tiebreaker) bucket spreads each tied mass
    # across tiebreaker-quantile sub-buckets, and ranks still match
    # the native window exactly.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.ranking import (
        _tie_aware_bucket,
        grouped_exact_rank,
    )

    n = 4_000
    df = spark.range(n).selectExpr(
        "id", "CAST(id % 3 AS string) AS g", "CAST(id % 2 AS long) AS v"
    )
    bucket = _tie_aware_bucket(df, "v", ["id"], num_buckets=64, where="test")
    n_buckets = df.select(bucket.alias("b")).distinct().count()
    assert n_buckets >= 32, f"flag column still funnels: {n_buckets} buckets"
    # and the max bucket holds a small fraction of the rows, not half
    top = (
        df.select(bucket.alias("b")).groupBy("b").count().agg(F.max("count")).collect()[0][0]
    )
    assert top <= n // 16
    # correctness through the full operator on the same degenerate input
    got = {
        r["id"]: r["rank"]
        for r in grouped_exact_rank(
            df, group_cols=["g"], value_col="v", tiebreakers=["id"]
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = {r["id"]: r["rn"] for r in df.select("id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want


def test_tie_aware_bucket_warns_when_unsplittable(spark):
    # A tied DECIMAL value column (double-collision risk excludes the
    # exact-equality split) must warn loudly instead of silently
    # serializing — and still rank correctly through the plain chain.
    import warnings as _w

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_exact_rank

    df = spark.range(1_000).selectExpr(
        "id", "'g0' AS g", "CAST(id % 2 AS DECIMAL(12,2)) AS v"
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = grouped_exact_rank(df, group_cols=["g"], value_col="v", tiebreakers=["id"])
        rows = out.collect()
    assert any(
        issubclass(c.category, RuntimeWarning) and "collapsed" in str(c.message)
        for c in caught
    ), "expected a bucket-collapse RuntimeWarning for an unsplittable tied column"
    got = {r["id"]: r["rank"] for r in rows}
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = {r["id"]: r["rn"] for r in df.select("id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want


def test_tie_aware_bucket_gates_exact_eq_beyond_double_range(spark):
    # ADVICE r9: approxQuantile hands back DOUBLES, so for an integral
    # column a heavy value with |v| >= 2^53 may not round-trip through
    # int(hv) — the isin prefilter and == branch would MISS the tied
    # mass. Such values must be excluded from the exact-eq split
    # (warned via _warn_heavy_unsplit), and ranks must still be exact
    # through the plain >= chain.
    import warnings as _w

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_exact_rank

    big = 2**53
    # half the rows tie on 2^53 (heavy, at the gate); the rest spread
    # over exactly-representable even offsets above it
    df = spark.range(2_000).selectExpr(
        "id",
        "'g0' AS g",
        f"CASE WHEN id % 2 = 0 THEN CAST({big} AS LONG) "
        f"ELSE CAST({big} AS LONG) + 2 * id END AS v",
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = grouped_exact_rank(df, group_cols=["g"], value_col="v", tiebreakers=["id"])
        rows = out.collect()
    assert any(
        issubclass(c.category, RuntimeWarning) and "heavy tied value" in str(c.message)
        for c in caught
    ), "expected the heavy-unsplit warning for a >=2^53 integral heavy value"
    got = {r["id"]: r["rank"] for r in rows}
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = {r["id"]: r["rn"] for r in df.select("id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want


def test_tie_aware_bucket_warns_on_heavy_mass_without_collapse(spark):
    # ADVICE r9: one value holding ~50% of rows next to 30+ distinct
    # boundaries keeps the effective bucket count ABOVE the collapse
    # threshold — pre-fix, NO warning fired and half the data ran as
    # one window task. With no quantile-able tiebreaker (string), the
    # heavy-mass warning must fire on the fallback path.
    import warnings as _w

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_exact_rank

    df = spark.range(4_000).selectExpr(
        "id",
        "'g0' AS g",
        "CASE WHEN id % 2 = 0 THEN CAST(1 AS LONG) ELSE id END AS v",
        "CAST(id AS STRING) AS s",
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = grouped_exact_rank(df, group_cols=["g"], value_col="v", tiebreakers=["s"])
        rows = out.collect()
    msgs = [str(c.message) for c in caught if issubclass(c.category, RuntimeWarning)]
    assert any("heavy tied value" in m for m in msgs), msgs
    assert not any("collapsed" in m for m in msgs), (
        "test premise broken: this fixture must stay above the collapse "
        "threshold so it exercises the heavy-mass-only path"
    )
    got = {r["id"]: r["rank"] for r in rows}
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("s").asc())
    want = {r["id"]: r["rn"] for r in df.select("id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want


def test_rank_degradation_logs_once_per_query(spark, caplog):
    # r9 verdict item 6: Python's warnings module dedups repeats from
    # the same call site, so after query A warns, an offending query B
    # in the same process is SILENT on the warnings channel. The
    # logger channel must fire on every offending operator call —
    # once per query, no dedup.
    import logging

    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_exact_rank

    df = spark.range(1_000).selectExpr(
        "id", "'g0' AS g", "CAST(id % 2 AS DECIMAL(12,2)) AS v"
    )
    logger_name = "lakehouse_architecture_transaction_spark.operators.ranking"
    with caplog.at_level(logging.WARNING, logger=logger_name):
        grouped_exact_rank(df, group_cols=["g"], value_col="v", tiebreakers=["id"]).count()
        first = sum(
            1
            for r in caplog.records
            if r.name == logger_name and "ONE task" in r.getMessage()
        )
        grouped_exact_rank(df, group_cols=["g"], value_col="v", tiebreakers=["id"]).count()
        second = sum(
            1
            for r in caplog.records
            if r.name == logger_name and "ONE task" in r.getMessage()
        )
    assert first >= 1, "first offending query produced no log line"
    assert second >= first + 1, (
        "second offending query was silent on the log channel — the "
        "once-per-query guarantee is broken"
    )


def test_tfidf_window_df_matches_count_distinct_on_nonnull_ids(spark):
    # ADVICE r15: tfidf's df is COUNT(*) over the term window of the
    # (doc, term) tf frame — equal to COUNT(DISTINCT doc) exactly when
    # doc ids are non-null, which is this operator's documented
    # precondition. Pin the equivalence on a corpus where terms repeat
    # within and across docs.
    from lakehouse_architecture_transaction_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "alpha gamma gamma delta")],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=10).collect()
    expected_df = {"alpha": 2, "beta": 2, "gamma": 2, "delta": 1}
    assert out, "tfidf produced no rows"
    for row in out:
        assert row["df"] == expected_df[row["term"]], (
            f"window df diverged from count-distinct df for {row['term']}"
        )
