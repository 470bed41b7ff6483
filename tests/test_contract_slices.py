"""Random-slice contract gate: the driver's Spark-vs-DuckDB contract
runs on FIXED sf fixtures; this module re-runs a battery of
SQL-expressible contract keys on seeded random row-subsets of the
sf0.001 tables — a shape the fixed fixtures never exercise (thinned
groups, absent keys, shifted top-k ties, near-empty join sides). The
subset is sampled ONCE in pandas and written as parquet that BOTH
engines read, so the comparison is exactly check_contract's
(column-set, row-count, canonicalized multiset).

Keys chosen to cover every table family while staying robust to
thinning (no minimum-cardinality fail-fasts like PQ's ksub anchor
requirement) and fast at sf0.001.

The last tests cover check_contract's own guards: the nested-type
schema check, the bounded DuckDB connection, and the `bpe_segment` key
the schema check used to reject (it emitted an array).
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

_spec = importlib.util.spec_from_file_location(
    "check_contract", REPO / "tools" / "check_contract.py"
)
_cc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_cc)  # brings canon/rows_key + TABLES + entrymod

SRC_SF = "/root/testdata/sf0.001"

KEYS = [
    # edge family (synthesized from orders)
    "degree_in",
    "degree_histogram",
    "top_pages_by_indegree",
    "edge_regex_filter",
    # documents family
    "text_stats",
    "lang_id",
    "dedup_exact",
    "url_normalize",
    "jaccard_pairs",
    "simhash_fingerprints",
    # events family
    "events_windowed",
    "events_json_sum",
    "latest_snapshot",
    # relational family
    "pricing_summary",
    "nation_volume",
    # embeddings family (brute-force cosine is the oracle-shaped one)
    "embedding_topk",
    # second wave: text scalars, per-domain rollups, link analytics —
    # all cardinality-robust (no fail-fast minimums, no iterative
    # unroll counts that a thinner graph could shift)
    "quality_score",
    "doc_fingerprint",
    "pii_counts",
    "domain_stats",
    "repetition_stats",
    "ngram_topk",
    "doc_length_quantiles",
    "dangling_vertices",
    "ratio_filter",
    "weight_normalize",
    "triangle_total",
    "cocitation",
    # continued-round additions, all cardinality-robust (bpe's
    # min_count gate and ccnet's terciles are replayed identically by
    # their oracles at any row subset; scan runs on whatever graph the
    # slice induces; dsir's models are fit on the slice itself).
    # ppr_push is excluded: its fixed seed url may not survive a slice.
    "bpe_merges",
    "scan_clusters",
    "ccnet_buckets",
    "dsir_weights",
    "gopher_rules",
]


@pytest.fixture(scope="module", params=[1, 2, 3])
def sliced_sf(request, tmp_path_factory):
    """Write a seeded ~60% row-sample of every sf0.001 table as parquet;
    returns the directory (laid out like a testdata sf dir)."""
    seed = request.param
    rng = np.random.RandomState(seed)
    out = tmp_path_factory.mktemp(f"slice_seed{seed}")
    for t in _cc.TABLES:
        df = pd.read_parquet(f"{SRC_SF}/{t}.parquet")
        keep = rng.rand(len(df)) < 0.6
        df[keep].to_parquet(out / f"{t}.parquet", index=False)
    return str(out)


@pytest.mark.parametrize("key", KEYS)
def test_contract_key_on_random_slice(spark, sliced_sf, key):
    qs = _cc.entrymod.queries()
    oracles = _cc.entrymod.oracle_sql()
    sdf = qs[key](spark, sliced_sf).toPandas()
    con = duckdb.connect()
    for t in _cc.TABLES:
        con.execute(
            f"create view {t} as select * from "
            f"read_parquet('{sliced_sf}/{t}.parquet')"
        )
    odf = con.execute(oracles[key]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf), (key, len(sdf), len(odf))
    assert _cc.rows_key(sdf) == _cc.rows_key(odf), key


def test_nested_columns_flags_array_map_and_struct():
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("tokens", ArrayType(StringType())),
            StructField("counts", MapType(StringType(), LongType())),
            StructField("pos", StructType([StructField("x", DoubleType())])),
            StructField("word", StringType()),
        ]
    )
    assert _cc.nested_columns(schema) == ["tokens", "counts", "pos"]
    assert _cc.nested_columns(StructType(schema.fields[::4])) == []


def test_duckdb_connect_is_bounded(tmp_path):
    con = _cc.duckdb_connect(str(tmp_path))
    mem, spill, cap = con.execute(
        "select current_setting('memory_limit'), "
        "current_setting('temp_directory'), "
        "current_setting('max_temp_directory_size')"
    ).fetchone()
    assert spill == str(tmp_path)
    assert mem.endswith("iB") and cap.endswith("iB")
    con.close()


def test_bpe_segment_emits_scalars_and_matches_oracle(spark, tmp_path):
    df = _cc.entrymod.queries()["bpe_segment"](spark, SRC_SF)
    assert _cc.nested_columns(df.schema) == []
    sdf = df.toPandas()
    con = _cc.duckdb_connect(str(tmp_path))
    for t in _cc.TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SRC_SF}/{t}.parquet')"
        )
    odf = con.execute(_cc.entrymod.oracle_sql()["bpe_segment"]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) > 0
    assert _cc.rows_key(sdf) == _cc.rows_key(odf)
