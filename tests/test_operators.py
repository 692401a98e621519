"""Operator unit tests: dedup determinism, merge semantics, simhash
stability, multimodal plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F

from lakehouse_architecture_transaction_spark.operators.dedup import dedup_exact, simhash
from lakehouse_architecture_transaction_spark.operators.merge import merge_upsert
from lakehouse_architecture_transaction_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    make_binary_table,
)


def test_dedup_exact_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(1, "b", 20), (1, "a", 30), (1, "a", 10), (2, "z", 1)],
        "k int, s string, v int",
    )
    out1 = sorted(tuple(r) for r in dedup_exact(df, keys=["k"]).collect())
    out2 = sorted(tuple(r) for r in dedup_exact(df, keys=["k"]).collect())
    assert out1 == out2 == [(1, "a", 10), (2, "z", 1)]


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, s string, v int")
    source = spark.createDataFrame([(2, "B", None), (3, "c", 30)], "k int, s string, v int")
    out = {r["k"]: (r["s"], r["v"]) for r in merge_upsert(target, source, keys=["k"]).collect()}
    assert out == {
        1: ("a", 10),  # unmatched target kept
        2: ("B", None),  # matched: source wins INCLUDING its null (update-all)
        3: ("c", 30),  # unmatched source inserted
    }


def test_simhash_identical_docs_equal(spark):
    df = spark.createDataFrame([(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "zzz yyy")],
                               "doc_id int, text string")
    rows = {r["doc_id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_multimodal_feature_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    mm = make_binary_table(docs)
    assert dict(mm.dtypes)["payload"] == "binary"
    feats = extract_features(mm).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        assert abs(sum(r["feature"]) - 1.0) < 1e-5
        assert r["n_bytes"] > 0 and len(r["content_sha"]) == 64


def test_multimodal_decode_stub_raises(spark):
    from lakehouse_architecture_transaction_spark.operators.multimodal import decode_image
    import pytest

    with pytest.raises(NotImplementedError):
        decode_image(b"xx", fake=False)


def test_asof_join_backward_inclusive(spark):
    from lakehouse_architecture_transaction_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 10, "e3")],
        "k long, t long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (3, 1, 999.0)],
        "k long, t long, v double",
    )
    out = {
        r["ev"]: r["v"]
        for r in asof_join(left, right, "k", "k", "t", "t", payload=["v"]).collect()
    }
    # e0 (t=5) precedes all right rows; e1 (t=10) matches t=10 inclusively;
    # e2 (t=20) takes the latest at t=15; key 2 has no history at all.
    assert out == {"e0": None, "e1": 100.0, "e2": 150.0, "e3": None}


def test_asof_join_payload_from_single_row(spark):
    # The LATEST matching right row has v=NULL, u=non-null; an older
    # row has v non-null. ASOF semantics (DuckDB/pandas): both payload
    # columns come from the latest row — v must be NULL, not carried
    # forward from the older row.
    from lakehouse_architecture_transaction_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 20, "e")], "k long, t long, ev string")
    right = spark.createDataFrame(
        [(1, 10, 100.0, "old"), (1, 15, None, "new")],
        "k long, t long, v double, u string",
    )
    row = asof_join(left, right, "k", "k", "t", "t", payload=["v", "u"]).collect()[0]
    assert row["u"] == "new" and row["v"] is None


def test_salted_join_rejects_right_preserving(spark):
    import pytest

    from lakehouse_architecture_transaction_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], "k long, s string")
    b = spark.createDataFrame([(1, 2.0)], "j long, v double")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(a, b, "k", "j", how=how)
    assert salted_join(a, b, "k", "j", how="left").count() == 1


def test_scd2_collapses_noop_and_orders_intervals(spark):
    from lakehouse_architecture_transaction_spark.operators.scd2 import scd2_build

    chg = spark.createDataFrame(
        [
            (1, "a", 10),  # v1
            (1, "a", 20),  # no-op restatement -> collapses
            (1, "b", 30),  # real change
            (2, "x", 10),  # single version
        ],
        "k long, attr string, ts long",
    )
    rows = {
        (r["k"], r["valid_from"]): (r["attr"], r["valid_to"], r["is_current"])
        for r in scd2_build(chg, key="k", eff_ts="ts", attrs=["attr"]).collect()
    }
    assert rows == {
        (1, 10): ("a", 30, False),
        (1, 30): ("b", None, True),
        (2, 10): ("x", None, True),
    }


def test_approx_sketches_near_exact(spark, sf_dir):
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.plans import REGISTRY

    approx = {
        r["event_type"]: r
        for r in REGISTRY["events_approx_sketches"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    for et, ex in exact.items():
        assert abs(approx[et]["approx_users"] - ex["users"]) <= max(3, 0.05 * ex["users"])
        assert abs(approx[et]["approx_p50"] - ex["p50"]) <= max(1.0, 0.05 * abs(ex["p50"]))


def test_salted_join_equals_plain_join(spark, sf_dir):
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=8)
    assert salted.count() == plain
    # spot-check content equivalence on an aggregate
    a = salted.groupBy("o_orderpriority").count().collect()
    b = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    assert {r["o_orderpriority"]: r["count"] for r in a} == {r["o_orderpriority"]: r["count"] for r in b}


def test_resize_and_thumbnails(spark, sf_dir):
    import numpy as np

    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.multimodal import (
        decode_image,
        extract_thumbnails,
        make_binary_table,
        resize_image,
    )

    img = decode_image(b"payload", fake=True)
    t = resize_image(img, (4, 4), fake=True)
    assert t.shape == (4, 4, 3) and t.dtype == np.uint8
    # deterministic: same payload -> same thumbnail
    assert (resize_image(decode_image(b"payload", fake=True), (4, 4)) == t).all()

    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = extract_thumbnails(make_binary_table(docs)).collect()
    assert len(out) == 20
    for r in out:
        assert r["thumb_h"] == 4 and r["thumb_w"] == 4
        assert 0.0 <= r["mean_r"] <= 255.0


def test_sample_frames_deterministic_and_stub_gated(spark):
    import pytest as _pytest

    from lakehouse_architecture_transaction_spark.operators.multimodal import sample_frames

    f1 = sample_frames(b"videobytes", 3)
    f2 = sample_frames(b"videobytes", 3)
    assert [s for s, _ in f1] == [s for s, _ in f2]
    assert len({s for s, _ in f1}) == 3  # frames differ from each other
    assert all(a.shape == (8, 8, 3) for _, a in f1)
    with _pytest.raises(NotImplementedError):
        sample_frames(b"videobytes", 3, fake=False)


def test_merge_upsert_schema_evolution(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    # source brings a NEW column and drops an existing one
    source = spark.createDataFrame([(2, 99.5), (3, 7.0)], "k long, score double")
    out = {r["k"]: (r["v"], r["score"]) for r in
           merge_upsert(target, source, keys=["k"], evolve_schema=True).collect()}
    assert out == {
        1: ("a", None),    # untouched target row; new column null
        2: ("b", 99.5),    # matched: v PRESERVED (source lacks it), score updated
        3: (None, 7.0),    # inserted: no v, new score
    }
    # without evolution the same merge must refuse
    import pytest as _pytest

    with _pytest.raises(ValueError):
        merge_upsert(target, source, keys=["k"])


def test_hash_split_stable_and_leak_free(spark, sf_dir):
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.sampling import hash_sample, hash_split

    docs = load_table(spark, sf_dir, "documents")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", w).select("doc_id", "split").collect()}
    # stable across repartitioning AND re-evaluation
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(13), "doc_id", w).select("doc_id", "split").collect()
    }
    assert a == b
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / n - 0.8) < 0.08  # hash-uniformity tolerance
    # a duplicate id (leak candidate) must land in the same split
    dup = docs.limit(1).unionByName(docs.limit(1))
    splits = {r["split"] for r in hash_split(dup, "doc_id", w).collect()}
    assert len(splits) == 1
    # different salt -> a different deal
    a2 = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", w, salt="split-v2").select("doc_id", "split").collect()
    }
    assert a2 != a
    # deterministic sample: same rows both times, ~fraction of total
    s1 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2).select("doc_id").collect()}
    s2 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2).select("doc_id").collect()}
    assert s1 == s2
    assert abs(len(s1) / n - 0.2) < 0.08


def test_connected_components_chain_and_isolated(spark):
    from lakehouse_architecture_transaction_spark.operators.graph import connected_components

    vertices = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    # chain 1-2-3-4 (diameter > 1 forces multiple rounds), pair 5-6, isolated 7
    edges = spark.createDataFrame([(2, 1), (2, 3), (4, 3), (5, 6)], "src long, dst long")
    comp = {r["id"]: r["component"] for r in connected_components(vertices, edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_connected_components_checkpoint_truncates_lineage(spark):
    # A 16-node chain forces ≥15 propagation rounds; the returned plan
    # must hang off a checkpoint scan (ExistingRDD), not a 15-round
    # join tower — each round references the previous frame multiple
    # times, so an unchecked plan tree grows geometrically.
    from lakehouse_architecture_transaction_spark.operators.graph import connected_components

    n = 16
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    out = connected_components(vertices, edges)
    comp = {r["id"]: r["component"] for r in out.collect()}
    assert comp == {i: 0 for i in range(n)}
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, "lineage not truncated by localCheckpoint"


def test_connected_components_warns_when_not_converged(spark):
    import warnings as W

    from lakehouse_architecture_transaction_spark.operators.graph import connected_components

    vertices = spark.createDataFrame([(i,) for i in range(10)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        connected_components(vertices, edges, max_iter=2).collect()
    assert any("no fixpoint" in str(w.message) for w in caught)


def test_connected_components_star_matches_propagation(spark):
    # Chain (diameter 15) + a clique + isolates: the star variant must
    # reach the SAME unique fixpoint as plain propagation, in
    # O(log² n) rounds instead of O(diameter).
    from lakehouse_architecture_transaction_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    n = 16
    vertices = spark.createDataFrame([(i,) for i in range(n + 5)], "id long")
    chain = [(i, i + 1) for i in range(n - 1)]
    clique = [(n, n + 1), (n + 1, n + 2), (n, n + 2)]
    edges = spark.createDataFrame(chain + clique, "src long, dst long")
    star = {
        r["id"]: r["component"]
        for r in connected_components_star(vertices, edges, id_col="id").collect()
    }
    assert star == {**{i: 0 for i in range(n)}, n: n, n + 1: n, n + 2: n, n + 3: n + 3, n + 4: n + 4}
    prop = {
        r["id"]: r["component"]
        for r in connected_components(vertices, edges, max_iter=n).collect()
    }
    assert star == prop


def test_ntile_exact_matches_window_ntile(spark):
    # NTILE's closed form over the bucketed exact rank must equal
    # Spark's window NTILE for ragged N (not divisible by n) and ties.
    from pyspark.sql import Window

    from lakehouse_architecture_transaction_spark.operators.ranking import ntile_exact

    rows = [(i, float((i * 7) % 23)) for i in range(137)]  # ties in value
    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        r["id"]: r["tile"]
        for r in ntile_exact(df, value_col="v", tiebreakers=["id"], n=10).collect()
    }
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = {r["id"]: r["t"] for r in df.withColumn("t", F.ntile(10).over(w)).collect()}
    assert got == want


def test_bucketed_interval_join_exact_bounds(spark):
    # Matches must be exactly the rows within [ts+lower, ts+upper],
    # inclusive at both ends, including pairs that straddle a bucket
    # boundary (the 2-bucket explode must not lose them).
    import datetime as dt

    from lakehouse_architecture_transaction_spark.operators.interval import bucketed_interval_join

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def t(sec):
        return base + dt.timedelta(seconds=sec)

    left = spark.createDataFrame([(1, t(1000)), (2, t(5000))], "lid long, lts timestamp_ntz")
    right = spark.createDataFrame(
        [
            (10, t(400)),    # 600 before left 1 -> inside [-600, 0]
            (11, t(399)),    # 601 before -> outside
            (12, t(1000)),   # exact 0 -> inside (inclusive upper)
            (13, t(4500)),   # 500 before left 2 -> inside
            (14, t(5001)),   # after -> outside
        ],
        "rid long, rts timestamp_ntz",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in bucketed_interval_join(
            left, right, "lts", "rts", lower_seconds=-600, upper_seconds=0
        ).collect()
    )
    assert got == [(1, 10), (1, 12), (2, 13)]


def test_audio_decode_stub_and_features(spark, sf_dir):
    import numpy as np
    import pytest

    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.multimodal import (
        AUDIO_WINDOW,
        N_AUDIO_WINDOWS,
        decode_audio,
        extract_audio_features,
        make_binary_table,
    )

    with pytest.raises(NotImplementedError):
        decode_audio(b"xx", fake=False)
    pcm = decode_audio(b"payload", fake=True)
    assert pcm.shape == (N_AUDIO_WINDOWS * AUDIO_WINDOW,)
    assert pcm.min() >= -128 and pcm.max() <= 127
    assert np.array_equal(pcm, decode_audio(b"payload", fake=True))  # deterministic

    docs = load_table(spark, sf_dir, "documents").limit(5)
    out = extract_audio_features(make_binary_table(docs)).collect()
    assert len(out) == 5 * N_AUDIO_WINDOWS
    for r in out:
        assert 0.0 <= r["mean_abs"] <= 128.0 and r["n_samples"] == AUDIO_WINDOW


def test_real_bmp_decode_handcrafted_and_roundtrip():
    # Hand-crafted 2x3 BMP pinned byte-for-byte against the spec
    # (bottom-up rows, BGR order, 4-byte row padding): the decoder is
    # checked against an INDEPENDENT construction, not just its own
    # encoder's inverse.
    import struct

    import numpy as np
    import pytest

    from lakehouse_architecture_transaction_spark.operators.multimodal import (
        _decode_bmp,
        decode_image,
        encode_bmp,
        sniff_format,
    )

    # 2 rows x 3 cols, RGB values chosen distinct per pixel
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    stride = ((3 * 3 + 3) // 4) * 4  # 12 bytes, 3 of padding
    rows = b""
    for y in (1, 0):  # bottom-up
        row = b""
        for x in range(3):
            r, g, b = img[y, x]
            row += bytes([b, g, r])  # BGR
        rows += row + b"\x00" * (stride - len(row))
    payload = (
        struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
        + rows
    )
    assert sniff_format(payload) == "bmp"
    assert np.array_equal(decode_image(payload, fake=False), img)
    # encoder round-trip on odd widths (padding exercised) both row orders
    for h, w in ((2, 3), (5, 7), (4, 4)):
        a = (np.arange(h * w * 3, dtype=np.uint64) * 37 % 256).astype(np.uint8).reshape(h, w, 3)
        assert np.array_equal(_decode_bmp(encode_bmp(a)), a)
    # corrupt inputs fail loudly, codec formats are gated
    with pytest.raises(ValueError):
        _decode_bmp(payload[:40])
    with pytest.raises(ValueError):
        _decode_bmp(payload[:-4])
    # a data offset pointing INSIDE the headers must not silently
    # decode header bytes as pixels
    bad_off = payload[:10] + struct.pack("<I", 0) + payload[14:]
    with pytest.raises(ValueError):
        _decode_bmp(bad_off)
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish", fake=False)


def test_real_ppm_decode_comment_tolerant_and_roundtrip():
    import numpy as np
    import pytest

    from lakehouse_architecture_transaction_spark.operators.multimodal import (
        _decode_ppm,
        decode_image,
        encode_ppm,
    )

    img = (np.arange(2 * 2 * 3, dtype=np.uint8) * 11 % 256).astype(np.uint8).reshape(2, 2, 3)
    # header with a comment line — parsers must skip it per the spec
    payload = b"P6\n# test comment\n2 2\n255\n" + img.tobytes()
    assert np.array_equal(decode_image(payload, fake=False), img)
    for h, w in ((1, 1), (3, 5)):
        a = (np.arange(h * w * 3, dtype=np.uint64) * 53 % 256).astype(np.uint8).reshape(h, w, 3)
        assert np.array_equal(_decode_ppm(encode_ppm(a)), a)
    with pytest.raises(ValueError):
        _decode_ppm(b"P6\n2 2\n255\n" + img.tobytes()[:-2])
    # maxval < 255: samples are FRACTIONS of maxval per the spec —
    # full intensity 15/15 must decode white, not near-black
    small = b"P6\n2 1\n15\n" + bytes([15, 0, 7, 15, 15, 15])
    got = _decode_ppm(small)
    assert got.tolist() == [[[255, 0, 119], [255, 255, 255]]]
    with pytest.raises(ValueError):
        _decode_ppm(b"P6\n1 1\n0\n" + bytes([0, 0, 0]))
    # missing whitespace after maxval must raise, not silently consume
    # a pixel byte and shift the whole image by one (ADVICE r11)
    with pytest.raises(ValueError):
        _decode_ppm(b"P6\n1 1\n255" + bytes([65, 0, 0, 0]))


def test_real_wav_decode_pcm_variants():
    import io
    import wave as _wave

    import numpy as np

    from lakehouse_architecture_transaction_spark.operators.multimodal import (
        _decode_wav,
        decode_audio,
        encode_wav,
    )

    pcm = (np.arange(256, dtype=np.int32) * 257 - 32768).astype(np.int16)
    assert np.array_equal(_decode_wav(encode_wav(pcm)), pcm)
    # decode_audio real path honors the sample budget; n_samples=0
    # means ZERO samples on both paths (fake path agrees)
    assert np.array_equal(decode_audio(encode_wav(pcm), 64, fake=False), pcm[:64])
    assert len(decode_audio(encode_wav(pcm), 0, fake=False)) == 0
    assert len(decode_audio(b"payload", 0, fake=True)) == 0
    # stereo: first channel taken
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as f:
        f.setnchannels(2)
        f.setsampwidth(2)
        f.setframerate(8000)
        inter = np.empty(64, dtype=np.int16)
        inter[0::2] = np.arange(32, dtype=np.int16)          # L
        inter[1::2] = -np.arange(32, dtype=np.int16) - 1     # R
        f.writeframes(inter.astype("<i2").tobytes())
    assert np.array_equal(_decode_wav(buf.getvalue()), np.arange(32, dtype=np.int16))
    # 8-bit unsigned PCM centers and scales to int16
    buf8 = io.BytesIO()
    with _wave.open(buf8, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(1)
        f.setframerate(8000)
        f.writeframes(bytes([0, 128, 255]))
    assert list(_decode_wav(buf8.getvalue())) == [-32768, 0, 32512]
    # truncated container is a DATA error, not a capability gap
    import pytest

    with pytest.raises(ValueError):
        _decode_wav(encode_wav(pcm)[:30])
    # non-PCM wFormatTag is a CAPABILITY gap, classified by parsing
    # the fmt chunk — never by matching wave's error-message wording,
    # which varies across CPython versions (ADVICE r11). Tag 0x55 is
    # MPEG Layer 3; craft the container by patching a valid PCM one.
    import struct as _struct

    good = bytearray(encode_wav(pcm))
    fmt_at = bytes(good).index(b"fmt ")
    _struct.pack_into("<H", good, fmt_at + 8, 0x55)
    with pytest.raises(NotImplementedError):
        _decode_wav(bytes(good))
    from lakehouse_architecture_transaction_spark.operators.multimodal import _wav_format_tag

    assert _wav_format_tag(encode_wav(pcm)) == (1, None)
    assert _wav_format_tag(bytes(good)) == (0x55, None)
    assert _wav_format_tag(b"nonsense") is None
    # a size-0 fmt chunk must parse as None (malformed), never read
    # the NEXT chunk's header bytes as the tag (review find)
    zero_fmt = b"RIFF" + b"\x24\x00\x00\x00" + b"WAVE" + b"fmt " + b"\x00\x00\x00\x00" + b"data" + b"\x00\x00\x00\x00"
    assert _wav_format_tag(zero_fmt) is None
    # EXTENSIBLE with a non-PCM SubFormat is a codec gap, classified
    # from the GUID, not from wave's error text
    ext = bytearray(encode_wav(pcm))
    fmt_at2 = bytes(ext).index(b"fmt ")
    old_size = _struct.unpack_from("<I", ext, fmt_at2 + 4)[0]
    body = bytes(ext[fmt_at2 + 8 : fmt_at2 + 8 + old_size])
    # rebuild: extensible tag + padded body + cbSize/valid-bits/mask + GUID(sub=0x55)
    guid = _struct.pack("<H", 0x55) + b"\x00\x00" + b"\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    new_body = _struct.pack("<H", 0xFFFE) + body[2:16].ljust(14, b"\x00") + _struct.pack("<HHI", 22, 16, 1) + guid
    rebuilt = bytes(ext[:fmt_at2]) + b"fmt " + _struct.pack("<I", len(new_body)) + new_body + bytes(ext[fmt_at2 + 8 + old_size + (old_size & 1):])
    assert _wav_format_tag(rebuilt) == (0xFFFE, 0x55)
    with pytest.raises(NotImplementedError):
        _decode_wav(rebuilt)
    # EXTENSIBLE with a PCM SubFormat and an INTACT data chunk: stdlib
    # wave cannot open tag 0xFFFE, and that is a reader capability gap
    guid_pcm = _struct.pack("<H", 1) + b"\x00\x00" + b"\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    pcm_body = _struct.pack("<H", 0xFFFE) + body[2:16].ljust(14, b"\x00") + _struct.pack("<HHI", 22, 16, 1) + guid_pcm
    ext_pcm = bytes(ext[:fmt_at2]) + b"fmt " + _struct.pack("<I", len(pcm_body)) + pcm_body + bytes(ext[fmt_at2 + 8 + old_size + (old_size & 1):])
    assert _wav_format_tag(ext_pcm) == (0xFFFE, 1)
    with pytest.raises(NotImplementedError):
        _decode_wav(ext_pcm)
    # ... but the SAME extensible-PCM container with a TRUNCATED data
    # chunk is a DATA error: the EXTENSIBLE tag must not reclassify
    # corruption as a capability gap (ADVICE r12)
    from lakehouse_architecture_transaction_spark.operators.multimodal import (
        _wav_data_chunk_intact,
    )

    assert _wav_data_chunk_intact(ext_pcm)
    assert not _wav_data_chunk_intact(ext_pcm[:-10])
    with pytest.raises(ValueError):
        _decode_wav(ext_pcm[:-10])


def test_real_decode_end_to_end_mapinpandas(spark):
    # The real-decode paths through the SAME Arrow-batched plumbing the
    # registered fake-decoder queries use: BMP payloads -> thumbnails
    # with exact box-average channel means; WAV payloads -> windowed
    # mean-abs; byte-histogram features over the real pixels.
    import numpy as np

    from lakehouse_architecture_transaction_spark.operators.multimodal import (
        AUDIO_WINDOW,
        extract_audio_features,
        extract_features,
        extract_thumbnails,
        encode_bmp,
        encode_wav,
    )

    imgs = {
        i: (np.arange(8 * 8 * 3, dtype=np.uint64) * (i + 7) % 256)
        .astype(np.uint8)
        .reshape(8, 8, 3)
        for i in range(3)
    }
    mm_img = spark.createDataFrame(
        [(i, bytearray(encode_bmp(imgs[i]))) for i in imgs], "doc_id long, payload binary"
    )
    # a NULL payload row is DROPPED (corrupt blob), like the sibling
    # extractors — it must not crash the whole job
    mm_with_null = mm_img.unionByName(
        spark.createDataFrame([(99, None)], "doc_id long, payload binary")
    )
    out = {r["doc_id"]: r for r in extract_thumbnails(mm_with_null, (4, 4), fake=False).collect()}
    assert len(out) == 3 and 99 not in out
    for i, img in imgs.items():
        boxes = img.reshape(4, 2, 4, 2, 3).astype(np.float64).mean(axis=(1, 3))
        expect = boxes.astype(np.uint8).astype(np.float64)
        assert out[i]["mean_r"] == expect[:, :, 0].mean()
        assert out[i]["mean_b"] == expect[:, :, 2].mean()

    feats = {r["doc_id"]: r for r in extract_features(mm_img, fake_decode=False).collect()}
    for i, img in imgs.items():
        hist, _ = np.histogram(img, bins=16, range=(0, 256))
        got = np.array(feats[i]["feature"], dtype=np.float64)
        assert np.allclose(got, hist / hist.sum(), atol=1e-7)

    pcm = {i: ((np.arange(2 * AUDIO_WINDOW) * (13 + i)) % 200 - 100).astype(np.int16) for i in range(2)}
    mm_wav = spark.createDataFrame(
        [(i, bytearray(encode_wav(pcm[i]))) for i in pcm], "doc_id long, payload binary"
    )
    rows = extract_audio_features(mm_wav, fake=False).collect()
    # short clips: only the full windows the clip covers (2 here)
    assert len(rows) == 2 * 2
    for r in rows:
        w, i = r["window_idx"], r["doc_id"]
        win = pcm[i][w * AUDIO_WINDOW : (w + 1) * AUDIO_WINDOW]
        assert r["mean_abs"] == float(np.abs(win).sum()) / AUDIO_WINDOW


def test_multiprobe_radius_widens_recall_monotonically(spark, sf_dir):
    # A wider probe shell can only ADD candidates (corpus buckets
    # partition the data and the probe list is distinct), so on one
    # shared variance-bit index recall vs exact kNN must be monotone
    # in the Hamming radius. radius=1 is the registered
    # emb_ann_multiprobe parameterization; radius=2 is emb_ann_lsh.
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.similarity import (
        cosine_topk,
        lsh_var_build,
        sign_lsh_var_ann,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(8))

    def neighbors(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = neighbors(cosine_topk(emb, "vec_id", "embedding", qids, k=5))
    idx = lsh_var_build(emb, "vec_id", "embedding", bits=6).localCheckpoint(eager=True)
    r1 = neighbors(
        sign_lsh_var_ann(emb, "vec_id", "embedding", qids, k=5, bits=6, radius=1, bucketed=idx)
    )
    r2 = neighbors(
        sign_lsh_var_ann(emb, "vec_id", "embedding", qids, k=5, bits=6, radius=2, bucketed=idx)
    )

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        total = sum(len(v) for v in exact.values())
        return hits / total

    assert recall(r2) >= recall(r1)
    assert recall(r1) > 0


def test_sq8_recall_vs_exact(spark, sf_dir):
    # int8 reconstruction perturbs each coordinate by < (hi-lo)/254,
    # so top-5 neighbor sets should survive nearly intact.
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.similarity import cosine_topk, sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(8))

    def neighbors(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = neighbors(cosine_topk(emb, "vec_id", "embedding", qids, k=5))
    sq8 = neighbors(sq8_topk(emb, "vec_id", "embedding", qids, k=5))
    hits = sum(len(sq8.get(q, set()) & exact[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.8


def test_hash_sample_exact_size_stable_and_no_global_sort(spark):
    from lakehouse_architecture_transaction_spark.operators.sampling import hash_sample_exact

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s1 = sorted(r["doc_id"] for r in hash_sample_exact(df, "doc_id", 50, "t-v1").collect())
    s2 = sorted(
        r["doc_id"]
        for r in hash_sample_exact(df.repartition(13), "doc_id", 50, "t-v1").collect()
    )
    assert len(s1) == 50 and s1 == s2  # exact size, partitioning-invariant
    plan = hash_sample_exact(df, "doc_id", 50, "t-v1")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, not a global sort


def test_lm_familiarity_bounds_and_gibberish_zero(spark):
    from lakehouse_architecture_transaction_spark.operators.text import lm_familiarity

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),  # dup: every bigram recurs
            (3, "qwfp zxcv plmk ujnh"),  # gibberish: no bigram recurs
            (4, "one"),  # single token: no bigrams at all
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in lm_familiarity(docs, "doc_id", "text").collect()}
    assert out[1]["familiarity"] == 1.0 and out[2]["familiarity"] == 1.0
    assert out[3]["familiarity"] == 0.0
    assert out[4]["n_bigrams"] == 0 and out[4]["familiarity"] == 0.0
    assert all(0.0 <= r["familiarity"] <= 1.0 for r in out.values())


def test_transition_probabilities_sum_to_one(spark, sf_dir):
    from lakehouse_architecture_transaction_spark.plans.behavior import events_user_transitions

    rows = events_user_transitions(spark, sf_dir).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r["p"])
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 1e-9, prev


def test_pca_projection_matches_numpy_top_eigenvector(spark, sf_dir):
    import numpy as np

    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.similarity import pca_power_project

    emb = load_table(spark, sf_dir, "embeddings")
    out = pca_power_project(emb, "vec_id", "embedding", dim=64, iters=8).collect()
    got = {r["vec_id"]: r["pc1"] for r in out}

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    _, vecs = np.linalg.eigh(np.cov(Xc.T, bias=True))
    ref = Xc @ vecs[:, -1]  # exact top-PC projection
    ours = np.array([got[i] for i in ids])
    corr = abs(np.corrcoef(ours, ref)[0, 1])
    assert corr > 0.99, corr  # 8 power rounds converge to the top axis


def test_pca_gram_partial_bounded_on_coalesced_input(spark):
    # ADVICE r13: the level-1 gram partial must stay inside int64 even
    # when the caller hands a coalesced/cached input with corpus-scale
    # partitions. The row-bucket key (id >> partial_bucket_log2) bounds
    # it structurally. Probe with large-but-legal quantized terms
    # (~4e18/term) on a SINGLE partition: a per-partition partial of 3
    # terms exits 2^63 (≈1.2e19), a 2-row bucket never does.
    import math

    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from lakehouse_architecture_transaction_spark.operators.similarity import pca_power_project

    rows = [(i, [2001.0 + i, 1.0 + i]) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>").coalesce(1)

    # log2=33 reproduces the old one-bucket-per-partition partial:
    # Σ qi² over the 3-row partition overflows int64 → ANSI raises
    # rather than silently wrapping, proving the probe has teeth
    with pytest.raises((PySparkException, Py4JJavaError)):
        pca_power_project(
            emb, "vec_id", "embedding", dim=2, iters=4, partial_bucket_log2=33
        ).collect()

    # a 2-row bucket keeps every partial ≤ ~8e18 < 2^63 and the
    # DECIMAL(38,0) merge reproduces the exact projection: the data is
    # perfectly correlated along (1,1)/√2, so pc1 = ±(-√2, 0, √2)
    got = {
        r["vec_id"]: r["pc1"]
        for r in pca_power_project(
            emb, "vec_id", "embedding", dim=2, iters=4, partial_bucket_log2=1
        ).collect()
    }
    sign = 1.0 if got[2] > 0 else -1.0
    for i, want in enumerate([-math.sqrt(2), 0.0, math.sqrt(2)]):
        assert abs(sign * got[i] - want) < 1e-4, (i, got[i])


def test_exact_global_cumsum_matches_window(spark):
    # Bucketed running sum must equal a bare global-window running sum
    # bit-for-bit, ascending AND descending, with ties in the value
    # and DECIMAL sums (exact, order-independent accumulation).
    from pyspark.sql import Window

    from lakehouse_architecture_transaction_spark.operators.ranking import exact_global_cumsum

    rows = [(i, float((i * 13) % 37), f"{(i * 7) % 100}.25") for i in range(211)]
    df = spark.createDataFrame(rows, "id long, v double, m string").withColumn(
        "m", F.col("m").cast("decimal(18,2)")
    )
    for desc in (False, True):
        lead = F.col("v").desc() if desc else F.col("v").asc()
        w = Window.orderBy(lead, F.col("id").asc())
        want = {
            (r["id"]): (r["rnk"], str(r["cum"]))
            for r in df.withColumn("rnk", F.row_number().over(w))
            .withColumn("cum", F.sum("m").over(w.rowsBetween(Window.unboundedPreceding, 0)))
            .collect()
        }
        got = {
            r["id"]: (r["rank"], str(r["cum"]))
            for r in exact_global_cumsum(
                df, value_col="v", sum_col="m", tiebreakers=["id"], descending=desc
            ).collect()
        }
        assert got == want, f"descending={desc}"


def test_winnowing_guarantee_and_density(spark):
    # Winnowing guarantee: any substring shared by two docs with
    # length >= w + k - 1 (= 15 here) must yield at least one common
    # selected gram hash; and selection keeps roughly 2/(w+1) of the
    # k-gram positions.
    from lakehouse_architecture_transaction_spark.operators.text import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"  # 44 chars >> 15
    docs = spark.createDataFrame(
        [
            (1, "AAAA" + shared + "BBBBCCCCDDDDEEEE"),
            (2, "zzzzyyyyxxxxwwww" + shared + "qqqq"),
            (3, "completely different text with no overlap at all 123"),
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(docs, id_col="doc_id", text_col="text").collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["gram_hash"])
    assert by_doc[1] & by_doc[2], "shared 44-char substring must share a fingerprint"
    # density: windows = n - k - w + 2; distinct minima ~ 2/(w+1) of positions
    n1 = len(docs.filter("doc_id = 1").collect()[0]["text"])
    assert len(by_doc[1]) <= (n1 - 7) // 2  # far below one-per-position
    # determinism: re-run yields the identical fingerprint set
    fp2 = winnowing_fingerprints(docs, id_col="doc_id", text_col="text").collect()
    assert sorted(map(tuple, fp)) == sorted(map(tuple, fp2))

def test_tuned_ann_variants_recall_floor(spark, sf_dir):
    # Round-5 ANN tuning contract (VERDICT r4 item 1): the trained-IVF,
    # variance-bit LSH, and PQ-ADC+rerank variants must keep usable
    # recall@5 vs exact. Floors sit under the measured sf0.001 values
    # (ivf 0.90, pq+rerank 0.875, lsh-var 0.575) with jitter headroom.
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        pq_adc_topk,
        sign_lsh_var_ann,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(8))

    def neighbors(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = neighbors(cosine_topk(emb, "vec_id", "embedding", qids, k=5))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    ivf = neighbors(ivf_topk(emb, "vec_id", "embedding", qids, k=5, n_cells=16, iters=2, nprobe=2))
    assert recall(ivf) >= 0.8, f"trained IVF recall regressed: {recall(ivf)}"

    pq = neighbors(
        pq_adc_topk(
            emb, "vec_id", "embedding", qids, m=16, dsub=4, k_codes=16, iters=2, k=5, rerank=50
        )
    )
    assert recall(pq) >= 0.8, f"PQ-ADC+rerank recall regressed: {recall(pq)}"

    lsh = neighbors(sign_lsh_var_ann(emb, "vec_id", "embedding", qids, k=5, bits=6, radius=2))
    assert recall(lsh) >= 0.5, f"variance-bit LSH recall regressed: {recall(lsh)}"

    from lakehouse_architecture_transaction_spark.operators.similarity import ivfpq_topk

    ivfpq = neighbors(
        ivfpq_topk(
            emb, "vec_id", "embedding", qids, k=5, nprobe=2, rerank=50,
            n_cells=16, ivf_iters=2, m=16, dsub=4, k_codes=16, pq_iters=2,
        )
    )
    assert recall(ivfpq) >= 0.7, f"IVFPQ recall regressed: {recall(ivfpq)}"

def test_winnowing_rightmost_on_tie(spark):
    # SIGMOD'03: "select the rightmost occurrence" of a tied window
    # minimum. All-identical text makes every gram hash equal, so each
    # window of w=8 grams ties everywhere and must select its LAST
    # slot: window starting at j (1-based) selects pos = j + 7 — the
    # leftmost rule would select pos = j.
    from lakehouse_architecture_transaction_spark.operators.text import winnowing_fingerprints

    docs = spark.createDataFrame([(1, "a" * 30)], "doc_id long, text string")
    rows = winnowing_fingerprints(docs, id_col="doc_id", text_col="text").collect()
    # 30 chars -> 23 grams -> 16 windows (j = 1..16), each selecting j+7
    assert sorted(r["pos"] for r in rows) == list(range(8, 24))
    assert len({r["gram_hash"] for r in rows}) == 1

def test_pagerank_star_graph_and_mass(spark):
    # On a weighted star (hub connected to 4 leaves, symmetric edges),
    # the hub must rank strictly highest; total mass stays ~1 (the
    # quantization loses at most 1e-9 per edge per round).
    from lakehouse_architecture_transaction_spark.operators.graph import pagerank

    pairs = [(0, i, 1) for i in range(1, 5)]
    rows = pairs + [(b, a, w) for a, b, w in pairs]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    out = {r["node"]: r["pagerank"] for r in pagerank(edges, "src", "dst", "w").collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert out[0] > max(out[i] for i in range(1, 5))
    assert abs(sum(out.values()) - 1.0) < 1e-6
    leaves = {round(out[i], 12) for i in range(1, 5)}
    assert len(leaves) == 1  # symmetric leaves tie exactly

def test_pagerank_directed_includes_sinks_and_conserves_mass(spark):
    # Directed chain with sinks: A->B, A->C (B, C dangling). Sinks must
    # appear in the output with accumulated rank, and total mass must
    # stay ~1 (dangling rank redistributes instead of leaking).
    from lakehouse_architecture_transaction_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, 1, 1), (0, 2, 1)], "src long, dst long, w long")
    out = {r["node"]: r["pagerank"] for r in pagerank(edges, "src", "dst", "w", iters=8).collect()}
    assert set(out) == {0, 1, 2}
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert out[1] > out[0] and out[2] > out[0]  # sinks accumulate
    assert round(out[1], 12) == round(out[2], 12)  # symmetric sinks tie


def test_packed_adc_path_identical_to_unpacked(spark, sf_dir):
    # The packed-index search path (pq_pack_index + map-side distance
    # tables) must be BIT-identical to the join/aggregate formulation:
    # same distances (textually identical cast-fold), same subspace
    # fold order, same shortlist ties. Any drift here silently changes
    # the oracle-checked registry queries.
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.similarity import (
        ivf_build,
        ivfpq_topk,
        pq_adc_topk,
        pq_pack_index,
        product_quantize,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(8))
    codes, books = product_quantize(
        emb, "vec_id", "embedding", m=16, dsub=4, k=16, iters=2, return_codebook=True
    )
    packed = pq_pack_index(codes, books, "vec_id")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    plain = pq_adc_topk(
        emb, "vec_id", "embedding", qids, m=16, dsub=4, k_codes=16, iters=2, k=5,
        rerank=50, index=(codes, books),
    )
    fast = pq_adc_topk(
        emb, "vec_id", "embedding", qids, m=16, dsub=4, k_codes=16, iters=2, k=5,
        rerank=50, index=(codes, books), packed=packed,
    )
    assert rows(plain) == rows(fast)

    ivf = ivf_build(emb, "vec_id", "embedding", n_cells=16, iters=2)
    plain2 = ivfpq_topk(
        emb, "vec_id", "embedding", qids, k=5, nprobe=2, rerank=50,
        n_cells=16, ivf_iters=2, m=16, dsub=4, k_codes=16, pq_iters=2,
        ivf_index=ivf, pq_index=(codes, books),
    )
    fast2 = ivfpq_topk(
        emb, "vec_id", "embedding", qids, k=5, nprobe=2, rerank=50,
        n_cells=16, ivf_iters=2, m=16, dsub=4, k_codes=16, pq_iters=2,
        ivf_index=ivf, pq_index=(codes, books), packed=packed,
    )
    assert rows(plain2) == rows(fast2)


def test_hash_embed_matches_python_reference(spark):
    # Feature hashing must reproduce the reference construction
    # exactly: md5-based h32 buckets, +-1 sign bit, exact integer
    # counts, L2 norm from an exact integer sum of squares.
    import hashlib
    import math

    from lakehouse_architecture_transaction_spark.operators.text import hash_embed

    texts = {1: "the cat sat on the mat", 2: "numbers 123 456 789 123", 3: "x"}
    dim = 8

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def ref(text):
        raw = [0] * dim
        for t in text.split():
            b = h32(t) % dim
            raw[b] += 1 if h32(t + "#s") % 2 == 0 else -1
        n = math.sqrt(float(sum(v * v for v in raw))) or 1.0
        return [v / n for v in raw]

    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: list(r["embedding"]) for r in hash_embed(df, "doc_id", "text", dim=dim).collect()}
    for d, text in texts.items():
        assert got[d] == ref(text), f"doc {d}: {got[d]} != {ref(text)}"


def test_quality_logistic_score_monotone_and_bounded(spark):
    from lakehouse_architecture_transaction_spark.operators.text import quality_logistic_score

    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat, and the dog is in the house."),
            (2, "0123456789 " * 30),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_logistic_score(df, "doc_id", "text").collect()}
    assert len(rows) == 3  # empty doc scores (guarded ratios), not crashes
    for r in rows.values():
        assert 0.0 < r["quality_p"] < 1.0
    # algebraic sigmoid is monotone: stopword-rich prose beats digit soup
    assert rows[1]["quality_p"] > rows[2]["quality_p"]
    # squash identity: p = 0.5 + 0.5*s/(1+|s|) exactly
    for r in rows.values():
        s = r["raw_score"]
        assert r["quality_p"] == 0.5 + 0.5 * s / (1.0 + abs(s))


def test_hash_embed_feeds_cosine_topk(spark, sf_dir):
    # Integration: the model-free text vectorizer composes with the
    # vector search stack — documents → hash_embed → exact cosine
    # top-k, no embeddings table involved. Pins the schema contract
    # (array<double>, fixed dim, L2-normalized) the ANN ops expect.
    from lakehouse_architecture_transaction_spark.operators.similarity import cosine_topk
    from lakehouse_architecture_transaction_spark.operators.text import hash_embed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    vecs = hash_embed(docs, "doc_id", "text", dim=32)
    out = cosine_topk(vecs, "doc_id", "embedding", query_ids=[0, 1, 2], k=3).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append(r)
    assert set(got) <= {0, 1, 2} and got, "no results"
    for q, rows in got.items():
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        cosines = [r["cosine"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0 - 1e-9 <= c <= 1.0 + 1e-9 for c in cosines)


def test_capped_group_cosine_pairs_keep_rule_on_constructed_clusters(spark):
    # Constructed geometry: two tight clusters (near-identical vectors)
    # plus an orthogonal singleton. Within a group, every higher-id
    # member of a tight cluster must pair with every lower-id one at
    # cosine ~1; the singleton pairs with nobody at tau=0.9; the cap
    # excludes ids beyond the cap from pair generation entirely.
    from lakehouse_architecture_transaction_spark.operators.similarity import (
        capped_group_cosine_pairs,
        norm2_expr,
    )
    from pyspark.sql import functions as F

    rows = []
    # group 0: ids 0..3 all ~[1, 0], id 4 = [0, 1] (orthogonal)
    for i in range(4):
        rows.append((0, i, [1.0, 0.0 + i * 1e-6]))
    rows.append((0, 4, [0.0, 1.0]))
    # group 1: ids 10..12 all ~[0.6, 0.8]
    for i in range(3):
        rows.append((1, 10 + i, [0.6, 0.8 + i * 1e-6]))
    df = spark.createDataFrame(rows, "g int, vid long, vec array<double>").withColumn(
        "n2", norm2_expr("vec")
    )
    out = capped_group_cosine_pairs(
        df, group_col="g", id_col="vid", vec_col="vec", n2_col="n2", cap=None, threshold=0.9
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert pairs == {
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (10, 11), (10, 12), (11, 12),
    }
    # min-id-wins dedup view: dropped = ids with any lower-id partner
    dropped = {b for _, b in pairs}
    assert dropped == {1, 2, 3, 11, 12}  # 0 and 10 are keepers; 4 untouched

    # cap=2: only the 2 lowest ids per group generate pairs
    out2 = capped_group_cosine_pairs(
        df, group_col="g", id_col="vid", vec_col="vec", n2_col="n2", cap=2, threshold=0.9
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out2} == {(0, 1), (10, 11)}


def test_grouped_fold_assign_coherent_stable_and_balanced(spark):
    from lakehouse_architecture_transaction_spark.operators.sampling import grouped_fold_assign

    rows = [(i, f"src{i % 40}") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, source string")
    out = grouped_fold_assign(df, "source", k=5).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], set()).add(r["fold"])
    # coherence: one fold per group
    assert all(len(v) == 1 for v in by_group.values())
    folds = {g: next(iter(v)) for g, v in by_group.items()}
    assert all(0 <= f < 5 for f in folds.values())
    # balance: 40 hashed groups spread over 5 folds — none empty
    assert len(set(folds.values())) == 5
    # stability: a subset assigns identically (incremental-ingest safe)
    sub = grouped_fold_assign(df.filter("id < 100"), "source", k=5).collect()
    for r in sub:
        assert r["fold"] == folds[r["source"]]


def test_grouped_fold_assign_null_group_gets_a_fold(spark):
    from lakehouse_architecture_transaction_spark.operators.sampling import grouped_fold_assign

    df = spark.createDataFrame(
        [(0, "a"), (1, None), (2, None), (3, "b")], "id long, source string"
    )
    out = grouped_fold_assign(df, "source", k=5).collect()
    # every row gets a non-null fold; the NULL group is coherent too
    assert all(r["fold"] is not None and 0 <= r["fold"] < 5 for r in out)
    null_folds = {r["fold"] for r in out if r["id"] in (1, 2)}
    assert len(null_folds) == 1


def test_shingle_novelty_semantics(spark):
    from lakehouse_architecture_transaction_spark.operators.dedup import shingle_novelty

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),     # all shingles first here
            (1, "alpha beta gamma delta epsilon"),     # exact dup -> novelty 0
            (2, "alpha beta gamma zeta eta theta"),    # shares the first shingle only
            (3, "xy"),                                 # < 3 tokens -> no row
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in shingle_novelty(docs, "text", "doc_id", n=3).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0]["novelty_ratio"] == 1.0 and out[0]["n_seen"] == 0
    assert out[1]["novelty_ratio"] == 0.0 and out[1]["n_seen"] == out[1]["n_shingles"]
    # doc 2: shingles "alpha beta gamma" seen (from doc 0), rest new
    assert out[2]["n_seen"] == 1 and 0.0 < out[2]["novelty_ratio"] < 1.0


def test_gopher_quality_flags_semantics(spark):
    from lakehouse_architecture_transaction_spark.operators.text import gopher_quality_flags

    good = "the quick brown fox jumps over a lazy dog and it is that " * 5  # 65 words, stops
    bad_symbols = "#tag " * 60  # symbol ratio 1.0, no stop words
    short = "too short"
    docs = spark.createDataFrame(
        [(0, good), (1, bad_symbols), (2, short)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(docs, "doc_id", "text").collect()}
    assert out[0]["passes_gopher"] == 1
    assert out[0]["n_words"] == 65 and out[0]["n_stop_hits"] >= 2
    assert out[1]["passes_gopher"] == 0 and out[1]["symbol_ratio"] > 0.1
    assert out[2]["passes_gopher"] == 0 and out[2]["n_words"] == 2


def test_bpe_merges_memo_lru_eviction():
    # ADVICE r12: the trainer memo must not pin checkpoint storage for
    # every (app, sf_dir) pair forever — oldest entries evict past the
    # cap and a touch refreshes recency. ADVICE r13: eviction must
    # drop the reference ONLY — the values are localCheckpoint-backed,
    # so an eager unpersist would delete blocks under any still-held
    # reference (lineage already truncated → crash, not recompute).
    from lakehouse_architecture_transaction_spark.plans.text import _lru_touch

    class Frame:
        def unpersist(self):
            raise AssertionError(
                "evicted localCheckpoint-backed frames must not be unpersisted"
            )

    memo: dict = {}
    frames = {k: Frame() for k in "abcde"}
    for k in "abcd":
        _lru_touch(memo, k, frames[k], cap=4)
    _lru_touch(memo, "a", frames["a"], cap=4)  # touch refreshes 'a'
    _lru_touch(memo, "e", frames["e"], cap=4)  # evicts 'b', not 'a'
    assert set(memo) == {"c", "d", "a", "e"}
    # cache hit returns the SAME object (no retrain)
    assert _lru_touch(memo, "c", memo["c"], cap=4) is frames["c"]


def test_lru_evicted_checkpoint_frame_still_usable(spark):
    # ADVICE r13 end-to-end pin: retain a localCheckpoint-backed frame
    # across >cap touches; the evicted handle must still answer
    # actions (the block store keeps it until the reference is GC'd)
    from lakehouse_architecture_transaction_spark.plans.text import _lru_touch

    memo: dict = {}
    retained = spark.range(10).localCheckpoint(eager=True)
    _lru_touch(memo, "keep", retained, cap=2)
    for i in range(3):  # push 'keep' out of the memo
        _lru_touch(memo, f"f{i}", spark.range(1).localCheckpoint(eager=True), cap=2)
    assert "keep" not in memo
    assert retained.count() == 10  # not "checkpoint block not found"


def test_capped_cosine_pairs_arrow_kernel_bit_identical(spark):
    # r16: the mapInArrow cosine kernel must reproduce the engine
    # zip_with fold BIT-exactly (same left-fold accumulation order,
    # same division) — pinned on a small frame with near-duplicate,
    # orthogonal, and anti-parallel vectors across two groups.
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.similarity import (
        capped_group_cosine_pairs,
        norm2_expr,
    )

    rows = [
        (1, "g1", [1.0, 0.25, -0.5, 0.125]),
        (2, "g1", [0.99, 0.26, -0.49, 0.13]),
        (3, "g1", [0.0, 1.0, 0.0, 0.0]),
        (4, "g1", [-1.0, -0.25, 0.5, -0.125]),
        (5, "g2", [0.3, 0.3, 0.3, 0.3]),
        (6, "g2", [0.30000001, 0.3, 0.29999999, 0.3]),
    ]
    emb = spark.createDataFrame(rows, "id long, grp string, vec array<double>").select(
        "grp", "id", "vec", norm2_expr("vec").alias("n2")
    )
    out = {}
    for arrow in (False, True):
        got = (
            capped_group_cosine_pairs(
                emb, "grp", "id", "vec", "n2", cap=None, threshold=-1.0, arrow=arrow
            )
            .orderBy("id_a", "id_b")
            .collect()
        )
        out[arrow] = [(r["grp"], r["id_a"], r["id_b"], repr(r["cosine"])) for r in got]
    assert out[False] == out[True], "arrow kernel diverged from the engine fold"
    assert len(out[False]) == 7  # C(4,2) + C(2,2) pairs, threshold -1 keeps all


def test_capped_cosine_pairs_arrow_kernel_degenerate_inputs(spark):
    # The Arrow kernel must survive AND match the engine fold on the
    # degenerate layouts the empty-input sweep feeds every query:
    # NULL vectors, NULL elements, ragged lengths (fold -> NULL cosine
    # -> dropped by the threshold). Zero-norm vectors are asserted to
    # FAIL LOUDLY on both paths (the fold's ANSI divide-by-zero; the
    # kernel raises the matching ArithmeticError).
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.similarity import (
        capped_group_cosine_pairs,
        norm2_expr,
    )

    rows = [
        (1, "g", [1.0, 2.0]),
        (2, "g", None),          # NULL vector
        (3, "g", [1.0, None]),   # NULL element
        (4, "g", [1.0]),         # ragged length
        (6, "g", [2.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "id long, grp string, vec array<double>").select(
        "grp", "id", "vec", norm2_expr("vec").alias("n2")
    )
    out = {}
    for arrow in (False, True):
        got = (
            capped_group_cosine_pairs(
                emb, "grp", "id", "vec", "n2", cap=None, threshold=0.5, arrow=arrow
            )
            .orderBy("id_a", "id_b")
            .collect()
        )
        out[arrow] = [(r["id_a"], r["id_b"], repr(r["cosine"])) for r in got]
    assert out[False] == out[True], (
        f"arrow kernel diverged on degenerate inputs: {out[False]} vs {out[True]}"
    )
    kept = {(a, b) for a, b, _ in out[False]}
    assert (1, 6) in kept  # the one clean above-threshold pair
    # zero-norm vectors: both paths refuse (ANSI divide / kernel raise)
    import pytest as _pytest

    zrows = [(1, "g", [1.0, 2.0]), (5, "g", [0.0, 0.0])]
    zemb = spark.createDataFrame(zrows, "id long, grp string, vec array<double>").select(
        "grp", "id", "vec", norm2_expr("vec").alias("n2")
    )
    for arrow in (False, True):
        with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            capped_group_cosine_pairs(
                zemb, "grp", "id", "vec", "n2", cap=None, threshold=0.5, arrow=arrow
            ).collect()
