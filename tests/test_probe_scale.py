"""The scale probe's multiplied copy (tools/probe_scale.py).

The probe's xN timings mean something only if the copy is N times the
data with the x1 structure: every table but the two dimensions holds N
times the rows, foreign keys join within each copy, unique keys stay
unique, and no text or embedding of one copy repeats in another. Built
here once at sf0.001 with N = 2.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import probe_scale  # noqa: E402

from flirt_consume_spark.io import load_table  # noqa: E402
from flirt_consume_spark.queries import REGISTRY  # noqa: E402
from flirt_consume_spark.schemas import TABLES  # noqa: E402

N = 2


@pytest.fixture(scope="module")
def doubled(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("probe_x2"))
    return probe_scale.write_multiplied(spark, sf_dir, out, N)


def _tables(spark, sf):
    return {name: load_table(spark, sf, name) for name in TABLES}


def test_row_counts_multiply_except_dimensions(spark, sf_dir, doubled):
    one, two = _tables(spark, sf_dir), _tables(spark, doubled)
    for name in TABLES:
        want = one[name].count() * (1 if name in ("region", "nation") else N)
        assert two[name].count() == want, name


def test_every_table_reads_back_through_its_declared_schema(spark, doubled):
    for name, schema in TABLES.items():
        df = load_table(spark, doubled, name)
        assert df.schema == schema
        df.write.mode("overwrite").format("noop").save()


def test_foreign_key_matches_double(spark, sf_dir, doubled):
    def matches(sf):
        t = _tables(spark, sf)
        li = t["lineitem"]
        return (
            t["orders"].join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
            .count(),
            li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey")).count(),
            li.join(t["part"], F.col("l_partkey") == F.col("p_partkey")).count(),
            li.join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey")).count(),
        )

    one = matches(sf_dir)
    assert all(one), one
    assert matches(doubled) == tuple(N * c for c in one)


def test_unique_keys_stay_unique(spark, sf_dir, doubled):
    def unique(sf):
        out = set()
        for name, cols in probe_scale.KEY_DOMAINS.items():
            df = load_table(spark, sf, name)
            n = df.count()
            out |= {c for c in cols if df.select(c).distinct().count() == n}
        return out

    one = unique(sf_dir)
    assert {
        "c_custkey", "s_suppkey", "p_partkey", "o_orderkey",
        "event_id", "doc_id", "vec_id",
    } <= one
    assert unique(doubled) == one


def test_no_text_or_embedding_repeats_across_copies(spark, sf_dir, doubled):
    for name, col in (("documents", "text"), ("embeddings", "embedding")):
        one = load_table(spark, sf_dir, name).select(col).distinct().count()
        two = load_table(spark, doubled, name).select(col).distinct().count()
        assert two == N * one, name
    docs = load_table(spark, doubled, "documents")
    assert docs.filter(F.length("text") != F.col("n_chars")).count() == 0


def test_every_probe_but_lookup_is_a_registry_key():
    assert len(set(probe_scale.PROBES)) == len(probe_scale.PROBES)
    assert [p for p in probe_scale.PROBES if p not in REGISTRY] == ["lookup"]


def test_a_key_on_the_copy_counts_twice_the_rows(spark, sf_dir, doubled):
    """agg_route groups lineitem by two flags: at x2 every group holds
    exactly twice its x1 rows."""
    fn = REGISTRY["agg_route"].fn

    def counts(sf):
        return {
            (r.l_returnflag, r.l_linestatus): r.count_order
            for r in fn(spark, sf).collect()
        }

    one = counts(sf_dir)
    assert one and counts(doubled) == {k: N * v for k, v in one.items()}
