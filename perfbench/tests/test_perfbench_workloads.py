from collections import Counter

import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.workloads import WORKLOADS, pass_order


def test_request_sequence_is_deterministic_per_seed():
    wl = WORKLOADS["surface_lookup"]
    first = [pass_order(wl, 7, i) for i in range(5)]
    again = [pass_order(wl, 7, i) for i in range(5)]
    other = [pass_order(wl, 8, i) for i in range(5)]
    assert first == again
    assert first != other


def test_every_pass_makes_the_same_calls():
    for wl in WORKLOADS.values():
        for seed in (0, 1, 2):
            for i in range(3):
                assert Counter(pass_order(wl, seed, i)) == Counter(wl.ops)


def test_batch_order_is_kept():
    for name in ("etl_nquads", "curation_batch"):
        wl = WORKLOADS[name]
        assert pass_order(wl, 3, 0) == list(wl.ops) == pass_order(wl, 4, 9)


def test_checked_queries_are_catalog_queries():
    from cam_etl_spark.plans import QUERIES

    for wl in WORKLOADS.values():
        for name in wl.checked:
            assert QUERIES[name].oracle is not None, name


def test_generated_tables_depend_only_on_the_seed(tmp_path):
    a = datagen.build_tables(0.001, 5)
    b = datagen.build_tables(0.001, 5)
    c = datagen.build_tables(0.001, 6)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_generated_tables_have_the_fixture_schema(tmp_path):
    counts = datagen.write_tables(str(tmp_path), 0.001, 1)
    assert counts == {**datagen.row_counts(0.001)}
    schema = pq.read_schema(tmp_path / "lineitem.parquet")
    assert [f.name for f in schema] == [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"]
    assert str(schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(pq.read_schema(tmp_path / "embeddings.parquet").field("embedding").type) \
        == "list<element: float>"
    for name in datagen.TABLES:
        assert pq.ParquetFile(tmp_path / f"{name}.parquet").metadata.num_row_groups == 1
