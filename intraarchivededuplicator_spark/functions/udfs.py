"""Vectorized (Arrow-batched) pandas UDFs for the signature surface.

The reference computes MD5 + pHash per item in worker processes
(/root/reference/scanner/hashFile.py:135-164); here the same surface is one
Arrow-batched pass per partition — no per-row Python, per BASELINE input_hint.

Four thin wrappers over the batch kernels of functions/hashing, two per hash
family (see that module's docstring):
- spec (md5 of each shingle string; what the DuckDB oracles recompute):
  make_simhash_udf, make_minhash_shingles_udf;
- engine (md5 per token + polynomial shingle mix; pipeline and containment):
  make_fast_signatures_udf, make_fast_shingles_udf.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from .hashing import (
    SIMHASH_SHINGLE_K,
    MinHashParams,
    minhash_shingles_batch,
    shingle_sets_batch,
    signatures_batch,
    simhash64_batch,
)

_LONGS = ArrayType(LongType())
_WINNOW_FIELDS = [("win_interior", _LONGS), ("win_boundary", _LONGS)]


def _struct_udf(fields: list, batch):
    """pandas UDF text -> struct(fields), whose values are the lists (in
    field order) that batch(texts) returns for one Arrow batch."""
    names = [name for name, _ in fields]
    schema = StructType([StructField(name, t) for name, t in fields])

    @F.pandas_udf(schema)
    def _udf(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(dict(zip(names, batch(texts.tolist()))))

    return _udf


def make_simhash_udf(shingle_k: int = SIMHASH_SHINGLE_K):
    """spec: text -> simhash64 long (0 below shingle_k tokens)."""

    @F.pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash64_batch(texts.tolist(), shingle_k))

    return _udf


def make_minhash_shingles_udf(k_shingle: int, params: MinHashParams):
    """spec: text -> struct(minhash array<long>, shingle_hashes array<long>).

    MinHash and the sorted distinct shingle_hash32 set derive from the same
    tokenize -> k-shingle -> md5-32 work, so one Arrow pass yields both;
    queries that need only one project its field. Both fields are null for
    texts with no k-shingle."""
    return _struct_udf(
        [("minhash", _LONGS), ("shingle_hashes", _LONGS)],
        lambda texts: minhash_shingles_batch(texts, k_shingle, params),
    )


def make_fast_signatures_udf(
    k_shingle: int, params: MinHashParams, winnow_w: int | None = None
):
    """engine: text -> struct(simhash long, minhash array<long>,
    shingle_hashes array<long>[, win_interior array<long>, win_boundary
    array<long>]) via the string-free vectorized kernel
    (hashing.signatures_batch) — the pipeline's scale path. One Arrow
    transfer of the text, one tokenize, numpy everywhere else. winnow_w adds
    the containment anchor universe (hashing.winnow_split) computed from the
    same shingle-hash sequence.
    """
    fields = [
        ("simhash", LongType()),
        ("minhash", _LONGS),
        ("shingle_hashes", _LONGS),
    ]
    if winnow_w is not None:
        fields += _WINNOW_FIELDS
    return _struct_udf(
        fields,
        lambda texts: signatures_batch(texts, k_shingle, params, winnow_w=winnow_w),
    )


def make_fast_shingles_udf(k_shingle: int, winnow_w: int | None = None):
    """engine: text -> struct(shingle_hashes array<long>[, win_interior
    array<long>, win_boundary array<long>]) via hashing.shingle_sets_batch —
    the same values as make_fast_signatures_udf's fields of those names,
    without the SimHash/MinHash work: containment's standalone shingle sets
    (and, with winnow_w, their winnow_split)."""
    fields = [("shingle_hashes", _LONGS)]
    if winnow_w is not None:
        fields += _WINNOW_FIELDS
    return _struct_udf(
        fields, lambda texts: shingle_sets_batch(texts, k_shingle, winnow_w)
    )
