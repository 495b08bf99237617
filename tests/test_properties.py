"""Property-based tests (hypothesis) for the pure vectorized kernels —
no SparkSession needed, so these run anywhere."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from starchart_spark.functions.urls import canonicalize_series, hostname_series
from starchart_spark.operators.bloom import (
    _capacity_bits,
    _k_hashes,
    _set_bits,
    _test_bits,
)
from starchart_spark.operators.cuckoo import CuckooTable

hosts = st.from_regex(r"[a-z]([a-z0-9\-]{0,20}[a-z0-9])?(\.[a-z]{2,6}){1,3}", fullmatch=True)
schemes = st.sampled_from(["http", "https", "HTTP", "HTTPS", "Http"])
paths = st.from_regex(r"(/[A-Za-z0-9._~%\-]{0,12}){0,4}", fullmatch=True)
queries = st.from_regex(r"(\?[A-Za-z0-9=&%\-]{0,16})?", fullmatch=True)
frags = st.from_regex(r"(#[A-Za-z0-9\-]{0,8})?", fullmatch=True)


@given(schemes, hosts, st.integers(1, 65535) | st.none(), paths, queries, frags)
@settings(max_examples=200, deadline=None)
def test_canonicalize_properties(scheme, host, port, path, query, frag):
    url = f"{scheme}://{host}" + (f":{port}" if port else "") + path + query + frag
    out = canonicalize_series(pd.Series([url]))[0]
    assert out is not None and not pd.isna(out)
    # idempotent
    assert canonicalize_series(pd.Series([out]))[0] == out
    # path/query/fragment independent
    url2 = f"{scheme}://{host}" + (f":{port}" if port else "") + "/other?x=1#y"
    assert canonicalize_series(pd.Series([url2]))[0] == out
    # shape: scheme://host[:port]/
    assert out.startswith(scheme.lower() + "://")
    assert out.endswith("/")
    # host lowercased, no path remnants
    assert hostname_series(pd.Series([url]))[0] == host.lower()
    default = {"http": 80, "https": 443}[scheme.lower()]
    if port and port != default:
        assert f":{port}/" in out
    else:
        assert f":{default}" not in out


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=500, unique=True))
@settings(max_examples=50, deadline=None)
def test_bloom_positions_no_false_negatives(keys):
    arr = np.array(keys, dtype=np.int64).view(np.uint64)
    m, k = _capacity_bits(len(arr), 10), _k_hashes(10)
    words = np.zeros(m // 64, dtype=np.uint64)
    _set_bits(words, arr, k, m)
    assert _test_bits(words, arr, k, m).all()


@given(st.lists(st.integers(min_value=1, max_value=2**62), min_size=1, max_size=300, unique=True))
@settings(max_examples=30, deadline=None)
def test_cuckoo_membership_property(keys):
    ct = CuckooTable(len(keys))
    inserted = [k for k in keys if ct.add(k)]
    assert ct.contains_vec(np.array(inserted, dtype=np.int64)).all()
