"""The params-sidecar contract of every persisted store and model.

A persisted store or model freezes a parameter family when it is
built: a hash family, a threshold's prefix lengths, a quantizer, a
feature space. Rows built under one family never match probes of
another (candidates silently drop to zero, scores silently mis-score),
so the family is recorded in a small JSON sidecar inside the store
directory and compared on every load. This module owns that contract
for every family:

* the sidecar's file name (one :class:`Family` constant per family);
* the JSON encoding (``None`` values are left out);
* the family-key comparison: only the keys the caller supplies (and
  does not leave ``None``) are compared, so advisory keys — monitoring
  baselines, model totals — never fail a load;
* the absent rules: a STORE without a sidecar is legacy and loads
  unchecked (:func:`check` returns ``None``); a MODEL without one
  raises, since a bare parquet dir is not a model;
* one mismatch message naming the family;
* the merge-write that records a baseline into an existing sidecar.

Underscore-prefixed names are invisible to ``spark.read.parquet``, and
all I/O goes through :mod:`fsutil`, so a sidecar lives wherever its
store does (local, ``hdfs://``, ``s3a://``). Driver-side only.
"""

from __future__ import annotations

import json
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from cybersecurity_miw_spark import fsutil


class Family(NamedTuple):
    """One persisted family: ``name`` heads its messages, ``file`` is
    the sidecar inside the store directory, ``what`` names the
    parameter family a mismatch mixes, and ``model`` selects the
    absent rule (a model raises, a store loads unchecked)."""

    name: str
    file: str
    what: str
    model: bool = False


LSH = Family("band store", "_lsh_params.json", "MinHash")
SIMHASH = Family("simhash store", "_simhash_params.json", "SimHash")
PHASH = Family("phash store", "_phash_params.json", "perceptual-hash")
PREFIX = Family("prefix store", "_setsim_params.json", "prefix-length")
CONTAINMENT = Family(
    "containment store", "_containment_params.json", "shingle-width"
)
SEMANTIC = Family("semantic store", "_semdedup_params.json", "hyperplane")
SEMANTIC_BANDED = Family(
    "banded semantic index", "_semdedup_banded_params.json", "plane"
)
IVF = Family("ivf index", "_ivf_params.json", "quantizer")
DSIR = Family("DSIR model", "_dsir_params.json", "hash", model=True)
CLF = Family("classifier", "_clf_params.json", "feature-space", model=True)
LM = Family("LM", "_lm_params.json", "n-gram", model=True)

FAMILIES = (
    LSH, SIMHASH, PHASH, PREFIX, CONTAINMENT, SEMANTIC, SEMANTIC_BANDED,
    IVF, DSIR, CLF, LM,
)


def _encode(params: dict) -> str:
    return json.dumps({k: v for k, v in params.items() if v is not None})


def staged(family: Family, **params) -> dict[str, str]:
    """The ``{file: text}`` entry that stages a sidecar inside
    ``maintain.publish_table``'s atomic swap (``sidecar_texts``), so a
    concurrent reader never pairs new rows with old params."""
    return {family.file: _encode(params)}


def write(spark: SparkSession, store_dir: str, family: Family, **params) -> None:
    """Record ``params`` as the sidecar of ``store_dir``, replacing any
    previous one."""
    fsutil.write_text(spark, f"{store_dir}/{family.file}", _encode(params))


def read(spark: SparkSession, store_dir: str, family: Family) -> dict | None:
    """The recorded params; ``None`` for a store without a sidecar
    (legacy). A model without one raises."""
    path = f"{store_dir}/{family.file}"
    if not fsutil.exists(spark, path):
        if family.model:
            raise ValueError(
                f"no {family.name} sidecar at {store_dir} — write the "
                "model first (a bare parquet dir is not a model)"
            )
        return None
    return json.loads(fsutil.read_text(spark, path))


def _show(params: dict) -> str:
    return "{" + ", ".join(f"{k}={v!r}" for k, v in params.items()) + "}"


def check(
    spark: SparkSession, store_dir: str, family: Family, **supplied
) -> dict | None:
    """Read the sidecar and raise unless every supplied non-``None``
    key equals its recorded value (a recorded key that is missing
    mismatches). Returns the recorded params, or ``None`` for a legacy
    store."""
    stored = read(spark, store_dir, family)
    supplied = {k: v for k, v in supplied.items() if v is not None}
    recorded = {k: (stored or {}).get(k) for k in supplied}
    if stored is not None and recorded != supplied:
        raise ValueError(
            f"{family.name} at {store_dir} was built with "
            f"{_show(recorded)}; this caller supplies {_show(supplied)} "
            f"— mixed {family.what} families never match (candidates "
            "drop to zero, scores mis-score). Rebuild it or pass the "
            "stored parameters."
        )
    return stored


def load(
    spark: SparkSession, store_dir: str, family: Family, **supplied
) -> DataFrame:
    """:func:`check` the store's family, then read its rows."""
    check(spark, store_dir, family, **supplied)
    return spark.read.parquet(store_dir)


def merge(spark: SparkSession, store_dir: str, family: Family, **params) -> dict:
    """Merge-write ``params`` into the sidecar, creating it when absent
    (a legacy store adopts the caller's family), and return the
    result. No write happens when nothing changes, so a loop may call
    this every trigger."""
    stored = read(spark, store_dir, family) or {}
    merged = {**stored, **{k: v for k, v in params.items() if v is not None}}
    if merged != stored:
        write(spark, store_dir, family, **merged)
    return merged
