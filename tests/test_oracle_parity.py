"""In-pytest slice of the driver's t2 gate (SURVEY §5.2-3): a sample of
``__spark_entry__.queries()`` vs their DuckDB oracles at sf0.001.
The fast default run pins a representative query per physical pattern
so `pytest -x` catches regressions quickly; the FULL registry runs
behind the opt-in ``full_oracle`` marker (``pytest -m full_oracle``) —
the round-5 verdict's fix for rewritten operators going stale between
driver correctness windows.  The CLI equivalent is tools/parity.py."""

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry

SAMPLE = [
    "pricing_summary",        # scan + hash agg
    "shipping_priority",      # 3-way join + top-k
    "priority_rank_window",   # window function
    "orders_rollup",          # grouping sets
    "nation_set_ops",         # intersect/except
    "group_concat_sorted",    # dialect shim surface
    "events_sessionize",      # lag + running-sum sessionization
    "dedup_exact",            # md5 digest dedup
    "embedding_topk",         # vector math
    "text_profile",           # text operators
    "dictionary_tag",         # Arrow kernel: phrase-dictionary tagging
    "winnow_fingerprints",    # Arrow kernel: md5 gram hashes + window min
    "content_chunks",         # Arrow kernel: rolling-hash chunk boundaries
    "bm25_search",            # Arrow kernel: per-doc term counts + BM25
    "context_pairs",          # user-bounded window, array output (round 6b)
    "knn_graph",              # valved exact self-kNN, rounded-rank contract
    "bucket_pruned_lookup",   # bucket-pruning plan contract (round 8)
    "embedding_project",      # literal-plane JL fold (round 8)
    "zorder_range_scan",      # Morton-clustered staging + pushdown pin (round 8)
]


def _value_hash(df: pd.DataFrame) -> list:
    df = df[sorted(df.columns)]
    return sorted(tuple(repr(v) for v in row)
                  for row in df.itertuples(index=False, name=None))


@pytest.fixture(scope="module")
def ducks(sf_dir):
    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, sf_dir, ducks, name):
    spark_df = entry.queries()[name](spark, sf_dir).toPandas()
    oracle_df = ducks.execute(entry.oracle_sql()[name]).fetchdf()
    assert sorted(spark_df.columns) == sorted(oracle_df.columns)
    assert len(spark_df) == len(oracle_df)
    assert _value_hash(spark_df) == _value_hash(oracle_df)


ALL_QUERIES = list(entry.queries())


@pytest.mark.full_oracle
@pytest.mark.parametrize("name", ALL_QUERIES)
def test_full_registry_matches_oracle(spark, sf_dir, ducks, name):
    # literal-bearing oracles (embedding_whiten) build their literals
    # for the sf the oracle will run on
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    spark_df = entry.queries()[name](spark, sf_dir).toPandas()
    osql = entry.oracle_sql().get(name)
    if osql is None:
        assert len(spark_df) > 0
        return
    oracle_df = ducks.execute(osql).fetchdf()
    assert sorted(spark_df.columns) == sorted(oracle_df.columns)
    assert len(spark_df) == len(oracle_df)
    assert _value_hash(spark_df) == _value_hash(oracle_df)


def test_inventory_complete():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert len(qs) >= 32
    # every oracle key corresponds to a real query
    assert set(osql) <= set(qs)
    # every query is oracle-checked (streaming entries included — their
    # bounded-source results equal batch SQL, which IS the oracle).
    # The rows-only set emptied in round 5: embedding_whiten's eigh is
    # replayed at oracle-build time and its W matrix emitted as SQL
    # literals (_whiten_sql); doc_compression's zlib sizes are pinned
    # as an independent Python-zlib VALUES table (_doc_compression_sql)
    assert set(qs) - set(osql) == set()


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() > 0
