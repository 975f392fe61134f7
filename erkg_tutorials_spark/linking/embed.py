"""V1 — text embedding as a fixed-dim ``array<float>`` column.

The reference embeds entity descriptions and aliases through
``AnnKnowledgeBase._embed`` (spacy-lancedb-linker; dev.ipynb cells
73/84). The model itself is swappable; what the engine owes is the
*operator shape*: a fixed-dim ``array<float>`` column, no per-row
Python.

Default encoder is a deterministic hashing bag-of-words (md5 token →
bucket, L2-normalized) so tests are stable with no model downloads
(SURVEY.md §7 Phase 3). It is built from Spark expressions
(:func:`hashing_embed`), so it runs inside the JVM with no Python
worker; :func:`hashing_encode` is its numpy reference, bit-equal in
float32. A real sentence-transformer drops in by passing any
``encode: list[str] -> np.ndarray`` callable, which runs as an
Arrow-batched pandas_udf.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType


def _hash_bucket(token: str, dim: int) -> int:
    return int.from_bytes(hashlib.md5(token.encode()).digest()[:8], "big") % dim


def hashing_encode(
    texts: list[str], dim: int = 64, normalize: bool = True
) -> np.ndarray:
    """Deterministic hashing BoW encoder: md5-bucketed token counts,
    L2-normalized (unless ``normalize=False``, which keeps raw integer
    counts — exact in float32, so cross-engine comparable). Zero vector
    for empty/blank text."""
    out = np.zeros((len(texts), dim), dtype=np.float32)
    for i, t in enumerate(texts):
        for tok in (t or "").lower().split():
            out[i, _hash_bucket(tok, dim)] += 1.0
        if normalize:
            n = np.linalg.norm(out[i])
            if n > 0:
                out[i] /= n
    return out


# Python's str.split() separators (the code points whose isspace() is
# true) other than " ". The JVM tier maps each to " " and splits on " ";
# Java's regex \s would miss \x1c-\x1f and the Unicode spaces.
_PY_SPACES = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row. Catalyst
    re-evaluates an expression that sits inside a lambda once per
    element; a lambda parameter is bound once."""
    return F.element_at(F.transform(F.array(value), body), 1)


def hashing_embed(col: Column | str, dim: int = 64, normalize: bool = True) -> Column:
    """:func:`hashing_encode` as a JVM expression, bit-equal in float32.

    Tokens are Python's ``lower().split()``. A token's bucket is its
    first 8 md5 bytes, big-endian, mod ``dim``, computed exactly in
    long arithmetic from two 32-bit halves. Counts come from one sort:
    every bucket id is appended once, so bucket ``j``'s count is the
    length of the ``j``-th run minus one. The norm is the float32 sqrt
    of the summed squares; dividing in double and casting to float
    rounds exactly as float32 division does.
    """
    text = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    spaced = F.translate(F.lower(text), _PY_SPACES, " " * len(_PY_SPACES))
    toks = F.filter(F.split(spaced, " "), lambda t: F.length(t) > 0)
    two32 = (1 << 32) % dim

    def bucket(h: Column) -> Column:
        hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
        return (((hi % dim) * two32 + lo % dim) % dim).cast("int")

    def run_lengths(s: Column) -> Column:
        starts = F.filter(
            F.sequence(F.lit(1), F.size(s)),
            lambda i: (i == 1) | (F.element_at(s, i) != F.element_at(s, i - 1)),
        )
        return _let(
            F.concat(starts, F.array(F.size(s) + 1)),
            lambda st: F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda j: F.element_at(st, j + 1) - F.element_at(st, j) - 1,
            ),
        )

    buckets = F.transform(toks, lambda t: _let(F.md5(t), bucket))
    counts = _let(
        F.sort_array(F.concat(buckets, F.sequence(F.lit(0), F.lit(dim - 1)))), run_lengths
    )
    if not normalize:
        return F.transform(counts, lambda c: c.cast("float"))

    def scale(c: Column) -> Column:
        sumsq = F.aggregate(c, F.lit(0).cast("long"), lambda acc, x: acc + x * x)
        norm = F.sqrt(sumsq.cast("double")).cast("float").cast("double")
        return _let(
            norm,
            lambda nrm: F.transform(
                c, lambda x: F.when(nrm > 0, x / nrm).otherwise(F.lit(0.0)).cast("float")
            ),
        )

    return _let(counts, scale)


def hashing_embedder(dim: int = 64, normalize: bool = True):
    """``col -> array<float>`` of ``dim``: :func:`hashing_embed` in the
    call shape of :func:`encoder_embedder`."""
    return lambda col: hashing_embed(col, dim, normalize)


def encoder_embedder(encode):
    """Wrap ANY ``encode: list[str] -> np.ndarray`` callable as an
    Arrow-batched pandas_udf producing ``array<float>`` — this is the
    real-model seam: the callable (e.g. a sentence-transformer
    adapter) is serialized to executors and invoked once per Arrow
    batch, never per row."""

    @F.pandas_udf(ArrayType(FloatType()))
    def embed(s: pd.Series) -> pd.Series:
        mat = np.asarray(encode(s.fillna("").tolist()), dtype=np.float32)
        return pd.Series(list(mat))

    return embed


# per-worker-process model cache (see text/ner_model.py for rationale)
_ST_SINGLETON: dict = {}


def _get_st_model(model_name: str):
    m = _ST_SINGLETON.get(model_name)
    if m is None:
        from sentence_transformers import SentenceTransformer  # optional dep

        m = SentenceTransformer(model_name)
        _ST_SINGLETON[model_name] = m
    return m


def sentence_transformer_available(model_name: str = "all-MiniLM-L6-v2") -> bool:
    """True iff sentence-transformers AND the named model load here."""
    try:
        _get_st_model(model_name)
        return True
    except Exception:
        return False


def sentence_transformer_encode(model_name: str = "all-MiniLM-L6-v2"):
    """``encode`` callable backed by a per-executor-process
    sentence-transformer singleton; pass to :func:`encoder_embedder`
    or :func:`embed_column`. The closure carries only the model NAME —
    executors load (and cache) the weights themselves."""

    def encode(texts: list[str]) -> np.ndarray:
        from erkg_tutorials_spark.linking.embed import _get_st_model

        return _get_st_model(model_name).encode(texts, convert_to_numpy=True)

    return encode


def embed_column(
    df: DataFrame,
    text_col: str,
    out_col: str = "embedding",
    dim: int = 64,
    encode=None,
) -> DataFrame:
    """Embedding column via the hashing tier (default, deterministic,
    always available) or any injected ``encode`` callable (real-model
    tier — e.g. ``sentence_transformer_encode()`` when the package is
    installed). Both produce ``array<float>``; only the injected
    encoder crosses into Python."""
    embed = encoder_embedder(encode) if encode is not None else hashing_embedder(dim)
    return df.withColumn(out_col, embed(F.col(text_col)))


def cosine(a: str, b: str) -> Column:
    """JVM-side cosine between two array<float|double> columns."""
    dot = F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"
    )
    na = F.expr(
        f"sqrt(aggregate({a}, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )
    nb = F.expr(
        f"sqrt(aggregate({b}, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
