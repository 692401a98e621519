"""Lakehouse table (create/merge/append/partitioning) and source
(CSV enforcement, dataset append, excel) tests."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
from lakehouse_architecture_transaction_spark.sources.append import append_datasets
from lakehouse_architecture_transaction_spark.sources.csv import read_csv_enforced


@pytest.mark.parametrize(
    "partition_by,versioned",
    [(None, False), ("p", False), (None, True), ("p", True)],
    ids=["plain", "partitioned", "plain-versioned", "partitioned-versioned"],
)
def test_laketable_create_upsert_roundtrip(spark, tmp_path, partition_by, versioned):
    # Every write on every table layout, each read back against the
    # rows it should leave; no staging directory is left beside the table.
    path = str(tmp_path / "orders_table")
    t = LakeTable(spark, path, keys=["k"], partition_by=partition_by, versioned=versioned)
    schema = "k int, v string, p string"

    def rows() -> dict:
        return {r["k"]: (r["v"], r["p"]) for r in t.read().collect()}

    t.create(spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], schema))
    assert t.exists()
    assert rows() == {1: ("a", "x"), 2: ("b", "y")}
    assert any(d.startswith("p=") for d in os.listdir(t._snapshot_dir())) == bool(partition_by)

    t.upsert(spark.createDataFrame([(2, "B", "y"), (3, "c", "x")], schema))
    assert rows() == {1: ("a", "x"), 2: ("B", "y"), 3: ("c", "x")}

    t.append(spark.createDataFrame([(4, "d", "y")], schema))
    expected = {1: ("a", "x"), 2: ("B", "y"), 3: ("c", "x"), 4: ("d", "y")}
    assert rows() == expected

    # one coalesced file, split once more per partition value
    assert t.compact(target_files=1) == (2 if partition_by else 1)
    assert rows() == expected

    t.overwrite(spark.createDataFrame([(5, "e", "x")], schema))
    assert rows() == {5: ("e", "x")}
    assert os.listdir(tmp_path) == ["orders_table"]
    if versioned:
        ops = [e["operation"] for e in t.describe_history()]
        assert ops == ["overwrite", "compact", "append", "merge", "create"]


def test_num_rows_ignores_files_spark_does_not_read(spark, tmp_path):
    # A crashed append leaves part files under _temporary/, and hidden
    # staging dirs or files can sit in a table directory too; Spark's
    # reader skips them, so the footer count and pruned scans must too.
    import shutil

    def plant(target: str, sample: str) -> None:
        for rel in ("_temporary/0/part-00000.parquet", ".staging/part-00000.parquet", "_stray.parquet", ".part.parquet"):
            os.makedirs(os.path.dirname(os.path.join(target, rel)), exist_ok=True)
            shutil.copy(sample, os.path.join(target, rel))

    rows = spark.createDataFrame([(1, "a", "x"), (2, "b", "y"), (3, "c", "x")], "k int, v string, p string")
    rows.coalesce(1).write.parquet(str(tmp_path / "sample"))
    sample = next(str(f) for f in (tmp_path / "sample").iterdir() if f.name.endswith(".parquet"))
    plain = LakeTable(spark, str(tmp_path / "plain"), keys=["k"])
    plain.create(rows)
    parted = LakeTable(spark, str(tmp_path / "parted"), keys=["k"], partition_by="p")
    parted.create(rows)
    versioned = LakeTable(spark, str(tmp_path / "versioned"), keys=["k"], versioned=True)
    versioned.create(rows)
    versioned.upsert(spark.createDataFrame([(4, "d", "y")], "k int, v string, p string"))
    empty = LakeTable(spark, str(tmp_path / "empty"), keys=["k"], partition_by="p")
    empty.create(rows.limit(0))

    for t, target in (
        (plain, plain.path),
        (parted, os.path.join(parted.path, "p=x")),
        (versioned, versioned._version_dir(versioned.latest_version())),
        (empty, empty.path),
    ):
        plant(t.path, sample)
        plant(target, sample)
        n = t.read().count()
        assert t.num_rows() == n, t.path
        scanned, report = t.scan([("k", ">=", 0)])
        assert scanned.count() == n and report["files_total"] == report["files_read"]
    assert [plain.num_rows(), parted.num_rows(), versioned.num_rows(), empty.num_rows()] == [3, 3, 4, 0]


def test_laketable_append(spark, tmp_path):
    path = str(tmp_path / "rejected_zone")
    t = LakeTable(spark, path, keys=["k"])
    t.append(spark.createDataFrame([(1,)], "k int"))
    t.append(spark.createDataFrame([(2,)], "k int"))
    assert t.read().count() == 2


SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


def test_read_csv_enforced_types_and_corrupt(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,amount\n1,10.5\n2,oops\n3,7.25\n")
    parsed, corrupt = read_csv_enforced(spark, str(p), SCHEMA)
    rows = {r["id"]: r["amount"] for r in parsed.collect()}
    # row 2 parses structurally but 'oops' fails the double cast -> null
    assert rows == {1: 10.5, 2: None, 3: 7.25}
    assert corrupt.count() == 0
    assert [f.dataType for f in parsed.schema.fields] == [T.IntegerType(), T.DoubleType()]


def test_append_datasets_unions_files(spark, tmp_path):
    a, b = tmp_path / "a.csv", tmp_path / "b.csv"
    a.write_text("id,amount\n1,1.0\n")
    b.write_text("id,amount\n2,2.0\n")
    out = append_datasets(spark, [str(a), str(b)], SCHEMA)
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_excel_extract_gated(tmp_path):
    from lakehouse_architecture_transaction_spark.sources.excel import excel_to_csv_all_sheets

    # Without a real workbook / engine the function must fail loudly,
    # not silently — either the engine gate or a parse error.
    bogus = tmp_path / "x.xlsx"
    bogus.write_bytes(b"not an xlsx")
    with pytest.raises(Exception):
        excel_to_csv_all_sheets(str(bogus), str(tmp_path / "out"))


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.lakehouse.table import write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "b_orders", str(tmp_path / "b_orders"), 8, ["o_orderkey"], ["o_orderkey"])
    write_bucketed(li, "b_lineitem", str(tmp_path / "b_lineitem"), 8, ["l_orderkey"], ["l_orderkey"])
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_lineitem").join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan  # co-located: bucket-to-bucket zip
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_read_json_enforced_types_and_corrupt(spark, tmp_path):
    from lakehouse_architecture_transaction_spark.sources.json import read_json_enforced

    p = tmp_path / "in.json"
    p.write_text(
        '{"id": "1", "amount": "10.5", "name": "ok"}\n'
        '{"id": "2", "amount": "oops", "name": "badnum"}\n'
        "this is not json at all\n"
        '{"id": "3", "amount": 7, "name": "numliteral"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("name", T.StringType()),
        ]
    )
    parsed, corrupt = read_json_enforced(spark, str(p), schema)
    rows = {r["id"]: r for r in parsed.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["amount"] == 10.5
    assert rows[2]["amount"] is None  # bad value -> null, not an error
    assert rows[3]["amount"] == 7.0
    assert corrupt.count() == 1


def test_versioned_table_time_travel_and_vacuum(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "vt"), keys=["k"], versioned=True)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"))
    t.upsert(spark.createDataFrame([(4, "d")], "k long, v string"))

    assert t.history() == [0, 1, 2]
    assert t.latest_version() == 2
    # time travel: each snapshot is immutable and readable
    v0 = {r["k"]: r["v"] for r in t.read(version=0).collect()}
    v1 = {r["k"]: r["v"] for r in t.read(version=1).collect()}
    v2 = {r["k"]: r["v"] for r in t.read().collect()}
    assert v0 == {1: "a", 2: "b"}
    assert v1 == {1: "a", 2: "B", 3: "c"}
    assert v2 == {1: "a", 2: "B", 3: "c", 4: "d"}

    removed = t.vacuum(keep_last=2)
    assert removed == [0]
    assert t.history() == [1, 2]
    # latest still reads fine after vacuum
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4}


def test_metastore_registration_sql_by_name(spark, sf_dir):
    # Glue-crawler/Athena analog: after registration, a SQL client
    # reaches every lake table by NAME through the metastore; external
    # parquet tables keep pushdown through the catalog relation.
    from lakehouse_architecture_transaction_spark.catalog import load_table, register_metastore

    register_metastore(spark, sf_dir, database="lake_test")
    try:
        names = {t.name for t in spark.catalog.listTables("lake_test")}
        assert {"orders", "lineitem", "events", "documents"} <= names
        n_sql = spark.sql("SELECT count(*) AS n FROM lake_test.orders").collect()[0]["n"]
        assert n_sql == load_table(spark, sf_dir, "orders").count()
        # joined-by-name query resolves through the metastore
        got = spark.sql(
            "SELECT count(*) AS n FROM lake_test.orders o "
            "JOIN lake_test.customer c ON o.o_custkey = c.c_custkey"
        ).collect()[0]["n"]
        assert got == n_sql
        # events came through the ntz normalization, not raw nanos
        assert dict(spark.sql("SELECT * FROM lake_test.events").dtypes)["ts"] == "timestamp_ntz"
    finally:
        spark.sql("DROP DATABASE IF EXISTS lake_test CASCADE")


def test_versioned_diff_cdc(spark, tmp_path):
    # Delta-CDF-shape change feed between snapshots: insert / delete /
    # update_postimage, unchanged rows dropped, postimage values.
    t = LakeTable(spark, str(tmp_path / "cdc"), keys=["k"], versioned=True)
    t.create(spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, s string, v double"))
    # v1: update k=2, insert k=4 (merge semantics keep k=1,3)
    t.upsert(spark.createDataFrame([(2, "B", 21.0), (4, "d", 40.0)], "k int, s string, v double"))
    changes = {r["k"]: r["_change_type"] for r in t.diff(0).collect()}
    assert changes == {2: "update_postimage", 4: "insert"}
    row2 = {r["k"]: (r["s"], r["v"]) for r in t.diff(0).collect()}[2]
    assert row2 == ("B", 21.0)
    # deletes surface when diffing backwards is not the contract;
    # simulate a delete by committing a filtered snapshot
    t._commit(t.read().filter(F.col("k") != 1), operation="delete")
    d = {r["k"]: r["_change_type"] for r in t.diff(1, 2).collect()}
    assert d == {1: "delete"}


def test_versioned_append_is_a_commit(spark, tmp_path):
    # append() on a versioned table must commit a new snapshot, not
    # drop files into the table root where versioned read() never looks.
    t = LakeTable(spark, str(tmp_path / "va"), keys=["k"], versioned=True)
    t.create(spark.createDataFrame([(1, "a")], "k int, s string"))
    t.append(spark.createDataFrame([(2, "b")], "k int, s string"))
    assert {r["k"] for r in t.read().collect()} == {1, 2}
    # old snapshot still time-travels
    assert {r["k"] for r in t.read(version=0).collect()} == {1}
    # no stray parquet beside the version dirs / pointer / log
    stray = [f for f in os.listdir(str(tmp_path / "va")) if f.endswith(".parquet")]
    assert stray == []
    ops = [e["operation"] for e in t.describe_history()]
    assert ops == ["append", "create"]


def test_describe_history_dedupes_retried_version(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "dd"), keys=["k"], versioned=True)
    t.create(spark.createDataFrame([(1,)], "k int"))
    # simulate a retried commit double-appending version 0's log line
    with open(str(tmp_path / "dd" / "_commits.jsonl")) as f:
        line = f.readline()
    with open(str(tmp_path / "dd" / "_commits.jsonl"), "a") as f:
        f.write(line)
    hist = t.describe_history()
    assert [e["version"] for e in hist] == [0]


def test_compact_reduces_file_count(spark, sf_dir, tmp_path):
    from lakehouse_architecture_transaction_spark.catalog import load_table

    t = LakeTable(spark, str(tmp_path / "frag"), keys=["o_orderkey"])
    orders = load_table(spark, sf_dir, "orders")
    # simulate many small appended batches
    for i in range(6):
        t.append(orders.filter(F.col("o_orderkey") % 6 == i).repartition(4))
    before = sum(1 for f in os.listdir(str(tmp_path / "frag")) if f.endswith(".parquet"))
    assert before >= 20
    n_rows = t.read().count()
    after = t.compact(target_files=4)
    assert after <= 4
    assert t.read().count() == n_rows


def test_zorder_write_clusters_files(spark, sf_dir, tmp_path):
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.lakehouse.table import zorder_write

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    out = str(tmp_path / "zorders")
    zorder_write(orders, out, cols=["o_custkey", "o_totalprice"], num_files=4)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # Clustering property: per-file value ranges overlap far less than
    # random placement — the sum of per-file custkey spans should be
    # well under num_files * global span.
    import pyspark.sql.functions as SF

    spans = (
        back.withColumn("__f", SF.input_file_name())
        .groupBy("__f")
        .agg((SF.max("o_custkey") - SF.min("o_custkey")).alias("span"))
        .collect()
    )
    glob = orders.agg((SF.max("o_custkey") - SF.min("o_custkey")).alias("s")).collect()[0]["s"]
    assert len(spans) >= 3
    assert sum(r["span"] for r in spans) < 0.8 * len(spans) * glob


def test_versioned_table_schema_evolution(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "evo"), keys=["k"], versioned=True)
    t.upsert(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.upsert(spark.createDataFrame([(1, 9.5), (2, 3.5)], "k long, score double"), evolve_schema=True)
    cur = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert cur == {1: ("a", 9.5), 2: (None, 3.5)}
    # the old snapshot still has the old schema (time travel unaffected)
    assert t.read(version=0).columns == ["k", "v"]


def test_commit_history_and_constraints(spark, tmp_path):
    t = LakeTable(
        spark,
        str(tmp_path / "hist"),
        keys=["k"],
        versioned=True,
        constraints={"positive_v": "v > 0"},
    )
    t.upsert(spark.createDataFrame([(1, 10)], "k long, v long"))
    t.upsert(spark.createDataFrame([(2, 20)], "k long, v long"))
    t.compact(target_files=1)
    hist = t.describe_history()
    assert [h["operation"] for h in hist] == ["compact", "merge", "create"]
    assert hist[0]["n_rows"] == 2 and hist[-1]["n_rows"] == 1
    # constraint refuses the commit and leaves the table untouched
    with pytest.raises(ValueError, match="positive_v"):
        t.upsert(spark.createDataFrame([(3, -5)], "k long, v long"))
    assert t.read().count() == 2
    # vacuum trims history visibility along with snapshots? (history keeps
    # only visible versions <= latest; vacuumed old dirs remain listed)
    assert len(t.describe_history()) == 3


def test_orc_roundtrip_matches_parquet(spark, sf_dir, tmp_path):
    # Format parity: the engine's tables read identically from ORC —
    # columnar alternative some lakes standardize on; Spark-native
    # reader keeps pushdown (no extra package needed).
    from lakehouse_architecture_transaction_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    orc_path = str(tmp_path / "orders_orc")
    orders.write.orc(orc_path)
    back = spark.read.orc(orc_path)
    assert back.schema == orders.schema
    a = sorted(tuple(r) for r in back.collect())
    b = sorted(tuple(r) for r in orders.collect())
    assert a == b


def test_pruned_read_file_skipping(spark, sf_dir, tmp_path):
    """zorder_write + pruned_read = the Delta/Iceberg data-skipping
    contract: selective predicates read a strict subset of files, and
    results equal the unpruned filter exactly."""
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.lakehouse.table import pruned_read, zorder_write

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    out = str(tmp_path / "zo")
    # 16 files → the Morton curve cuts FOUR leading bits (price/cust
    # alternating), so a narrow custkey range maps to one custkey
    # quartile of files.
    zorder_write(orders, out, cols=["o_custkey", "o_totalprice"], num_files=16)

    # Z-order's payoff is CONJUNCTIVE multi-column predicates: a
    # quartile box in (custkey × totalprice) space touches only the
    # files whose hyper-rectangle intersects it.
    ck, tp = orders.stat.approxQuantile(["o_custkey", "o_totalprice"], [0.25], 0.01)
    df, report = pruned_read(
        spark, out, where=[("o_custkey", "<=", ck[0]), ("o_totalprice", "<=", tp[0])]
    )
    assert report["files_total"] >= 12
    assert report["files_skipped"] >= report["files_total"] // 2
    expected = orders.filter((orders.o_custkey <= ck[0]) & (orders.o_totalprice <= tp[0]))
    assert df.count() == expected.count()
    assert df.agg({"o_totalprice": "sum"}).collect()[0][0] == pytest.approx(
        expected.agg({"o_totalprice": "sum"}).collect()[0][0]
    )
    # a predicate excluding everything reads zero files
    _none, rep0 = pruned_read(spark, out, where=[("o_custkey", "<", -1)])
    assert rep0["files_read"] == 0 and _none.count() == 0


def test_register_scan_sql_by_name_pruning(spark, sf_dir, tmp_path):
    """LakeTable.register_scan: SQL-by-name queries run over the
    footer-pruned file set (the metastore path of data skipping) —
    the plan's scan relation holds only surviving files, and results
    equal the unpruned filter."""
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable, zorder_write

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    out = str(tmp_path / "zo_sql")
    zorder_write(orders, out, cols=["o_custkey", "o_totalprice"], num_files=16)
    t = LakeTable(spark, out, keys=["o_orderkey"])
    ck, tp = orders.stat.approxQuantile(["o_custkey", "o_totalprice"], [0.25], 0.01)
    where = [("o_custkey", "<=", ck[0]), ("o_totalprice", "<=", tp[0])]
    report = t.register_scan("orders_box", where)
    assert report["files_skipped"] >= report["files_total"] // 2
    got = spark.sql("SELECT COUNT(*) AS n, SUM(o_totalprice) AS s FROM orders_box").collect()[0]
    expected = orders.filter((orders.o_custkey <= ck[0]) & (orders.o_totalprice <= tp[0]))
    want = expected.agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s")).collect()[0]
    assert got["n"] == want["n"]
    assert got["s"] == pytest.approx(want["s"])
    # the by-name plan reads only the kept files
    files = spark.sql("SELECT * FROM orders_box").inputFiles()
    assert len(files) == report["files_read"]


def test_laketable_scan_pruning(spark, tmp_path):
    """LakeTable.scan prunes snapshot files by footer stats and stays
    consistent with read()+filter across versions."""
    rows = [(i, i % 50, float(i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, g long, v double").repartitionByRange(8, "k")
    t = LakeTable(spark, str(tmp_path / "scan"), keys=["k"], versioned=True)
    t.create(df)
    got, report = t.scan(where=[("k", ">=", 100), ("k", "<", 300)])
    assert report["files_skipped"] > 0
    assert got.count() == 200
    assert {r["k"] for r in got.collect()} == set(range(100, 300))


def test_laketable_restore_and_clone(spark, tmp_path):
    """RESTORE rolls back as a NEW commit (history preserved); CLONE
    makes an independent table from the current snapshot."""
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "restorable"), keys=["k"], versioned=True)
    v0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    t.create(v0)
    t.upsert(spark.createDataFrame([(2, "BAD"), (3, "c")], "k long, v string"))
    assert t.read().count() == 3
    new_v = t.restore(0)
    assert new_v == 2
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b")]
    # forensics: the bad version is still queryable
    assert t.read(version=1).count() == 3
    ops = [h["operation"] for h in t.describe_history()]
    assert ops[0] == "restore(v0)"

    c = t.clone(str(tmp_path / "cloned"))
    assert sorted(tuple(r) for r in c.read().collect()) == got
    # independence: writing the clone does not move the source
    c.upsert(spark.createDataFrame([(9, "z")], "k long, v string"))
    assert t.read().count() == 2 and c.read().count() == 3

def test_registered_pruned_scan_skips_files_end_to_end(spark, sf_dir):
    """The registered query orders_pruned_scan_sql must actually skip
    files on its way to a correct answer: the H1-1996 predicate over
    the date-clustered copy keeps a minority of files, and the
    SQL-by-name plan reads exactly the kept set."""
    from lakehouse_architecture_transaction_spark.plans.lakehouse_queries import (
        orders_pruned_scan_sql,
        pruned_scan_report,
    )

    report = pruned_scan_report(spark, sf_dir)
    assert report["files_total"] >= 8
    assert report["files_skipped"] > report["files_total"] // 2
    files = spark.sql("SELECT * FROM orders_pruned_scan").inputFiles()
    assert len(files) == report["files_read"]

    from lakehouse_architecture_transaction_spark.catalog import load_table

    got = {r["o_orderpriority"]: r["n_orders"] for r in orders_pruned_scan_sql(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    want = {
        r["o_orderpriority"]: r["n"]
        for r in orders.filter(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want

def test_registered_bucketed_join_zero_exchange_on_keys(spark, sf_dir):
    """The registered query orders_lineitem_bucketed_join must get its
    fact-fact join exchange-free from the bucketed layout: the only
    Exchange in the executed plan is the priority aggregate's — none
    on the order key."""
    from lakehouse_architecture_transaction_spark.plans.lakehouse_queries import (
        orders_lineitem_bucketed_join,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = orders_lineitem_bucketed_join(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "orderkey" not in line, line
        assert df.count() >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_zorder_registered_scan_skips_files(spark, sf_dir):
    # the REGISTERED query path (lineitem_zorder_pruned_scan) must
    # actually skip files, not just return correct rows
    from lakehouse_architecture_transaction_spark.plans.lakehouse_queries import (
        zorder_scan_report,
    )

    report = zorder_scan_report(spark, sf_dir)
    assert report["files_read"] < report["files_total"]
    assert report["files_read"] >= 1


def test_cdc_registered_table_has_two_versions(spark, sf_dir):
    from lakehouse_architecture_transaction_spark.plans.lakehouse_queries import (
        cdc_orders_table,
    )

    t = cdc_orders_table(spark, sf_dir)
    assert t.latest_version() == 1
    ops = [e["operation"] for e in t.describe_history()]
    assert ops[-1] == "create"  # v0
    # diff is empty between identical versions and non-empty v0->v1
    assert t.diff(1, 1).count() == 0
    assert t.diff(0, 1).count() > 0


def test_nonversioned_overwrite_from_own_read_is_safe(spark, tmp_path):
    """Read-then-overwrite on a NON-versioned table: the replacement
    df lazily derives from reading the same table, so an in-place
    overwrite would truncate the source mid-read and lose data. The
    stage-and-swap overwrite must produce the derived result."""
    from pyspark.sql import functions as F

    t = LakeTable(spark, str(tmp_path / "nv"), keys=["k"])
    t.create(spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k int, v int"))
    derived = t.read().withColumn("v", F.col("v") + 1)  # lazy: reads t's files
    t.overwrite(derived)
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(1, 11), (2, 21), (3, 31)}


def _write_minimal_xlsx(path, sheets):
    """Minimal ECMA-376 SpreadsheetML writer (stdlib): shared strings
    for str cells, inline numbers/bools, A1 refs with gap cells
    preserved — the structure Excel itself emits, so the stdlib
    reader is exercised against the real container format."""
    import zipfile
    from xml.sax.saxutils import escape

    shared: list[str] = []
    sindex: dict[str, int] = {}

    def col_letters(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    sheet_xml = {}
    for snum, (name, rows) in enumerate(sheets.items(), start=1):
        out_rows = []
        for rnum, row in enumerate(rows, start=1):
            cells = []
            for cnum, v in enumerate(row):
                if v is None:  # gap cell: omitted entirely
                    continue
                ref = f"{col_letters(cnum)}{rnum}"
                if isinstance(v, bool):
                    cells.append(f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>')
                elif isinstance(v, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                elif isinstance(v, tuple) and v[0] == "inline":
                    cells.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(v[1])}</t></is></c>')
                else:
                    if v not in sindex:
                        sindex[v] = len(shared)
                        shared.append(v)
                    cells.append(f'<c r="{ref}" t="s"><v>{sindex[v]}</v></c>')
            out_rows.append(f'<row r="{rnum}">{"".join(cells)}</row>')
        sheet_xml[snum] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData>{"".join(out_rows)}</sheetData></worksheet>'
        )

    ns_main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    ns_rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    ns_pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    wb_sheets = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i}" r:id="rId{i}"/>'
        for i, n in enumerate(sheets, start=1)
    )
    workbook = (
        f'<workbook xmlns="{ns_main}" xmlns:r="{ns_rel}"><sheets>{wb_sheets}</sheets></workbook>'
    )
    wb_rels = (
        f'<Relationships xmlns="{ns_pkg}">'
        + "".join(
            f'<Relationship Id="rId{i}" Type="{ns_rel}/worksheet" '
            f'Target="worksheets/sheet{i}.xml"/>'
            for i in range(1, len(sheets) + 1)
        )
        + f'<Relationship Id="rId{len(sheets) + 1}" Type="{ns_rel}/sharedStrings" '
        'Target="sharedStrings.xml"/></Relationships>'
    )
    sst = (
        f'<sst xmlns="{ns_main}" count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
        + "</sst>"
    )
    types = (
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(1, len(sheets) + 1)
        )
        + '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>'
    )
    root_rels = (
        f'<Relationships xmlns="{ns_pkg}"><Relationship Id="rId1" '
        f'Type="{ns_rel}/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/sharedStrings.xml", sst)
        for snum, xml in sheet_xml.items():
            z.writestr(f"xl/worksheets/sheet{snum}.xml", xml)


def test_excel_stdlib_reader_roundtrip(tmp_path):
    """E8: the stdlib OOXML-subset reader extracts per-sheet CSVs from
    a real SpreadsheetML container — shared strings, inline strings,
    numbers, booleans, gap cells, two sheets, unsafe sheet names."""
    from lakehouse_architecture_transaction_spark.sources.excel import (
        excel_to_csv_all_sheets,
        read_xlsx_stdlib,
    )

    path = str(tmp_path / "book.xlsx")
    _write_minimal_xlsx(
        path,
        {
            "Orders 2024": [
                ["order_id", "customer", "amount", "priority"],
                [1, "alice, inc", 10.5, ("inline", "HIGH")],
                [2, "bob \"the builder\"", 20, ("inline", "LOW")],
                [3, None, 7.25, ("inline", "MID")],  # gap cell
            ],
            "Notes": [["note"], [("inline", "multi word note")], [True]],
        },
    )
    sheets = read_xlsx_stdlib(path)
    assert list(sheets) == ["Orders 2024", "Notes"]
    rows = sheets["Orders 2024"]
    assert rows[0] == ["order_id", "customer", "amount", "priority"]
    assert rows[1] == [1, "alice, inc", 10.5, "HIGH"]
    assert rows[3] == [3, "", 7.25, "MID"]  # gap preserved positionally
    assert sheets["Notes"][2][0] is True

    out = excel_to_csv_all_sheets(path, str(tmp_path / "csv"))
    assert sorted(os.path.basename(p) for p in out) == ["Notes.csv", "Orders_2024.csv"]
    import csv as _csv

    with open([p for p in out if p.endswith("Orders_2024.csv")][0]) as f:
        got = list(_csv.reader(f))
    assert got[0] == ["order_id", "customer", "amount", "priority"]
    assert got[1] == ["1", "alice, inc", "10.5", "HIGH"]  # comma survives quoting
    assert got[2][1] == 'bob "the builder"'


def test_excel_corrupt_still_fails_loudly(tmp_path):
    from lakehouse_architecture_transaction_spark.sources.excel import excel_to_csv_all_sheets

    bogus = tmp_path / "x.xlsx"
    bogus.write_bytes(b"not an xlsx")
    with pytest.raises(Exception):
        excel_to_csv_all_sheets(str(bogus), str(tmp_path / "out"))
