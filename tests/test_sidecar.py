"""The params-sidecar contract (cybersecurity_miw_spark/sidecar.py),
checked once per family constant: round trip, advisory keys, the
mismatch message, and the two absent rules (a store loads unchecked,
a model raises)."""

from __future__ import annotations

import pytest

from cybersecurity_miw_spark import fsutil, sidecar

# one recorded family per constant, with the key its mismatch changes
FAMILY_KEYS = {
    sidecar.LSH: {"num_hashes": 16, "bands": 4, "shingle_k": 3},
    sidecar.SIMHASH: {"band_bits": 16, "hash_fn": "xxhash64"},
    sidecar.PHASH: {"bits": 60, "band_bits": 15},
    sidecar.PREFIX: {"t_pm": 500, "shingle_k": 3},
    sidecar.CONTAINMENT: {"shingle_k": 3},
    sidecar.SEMANTIC: {"dim": 16, "n_planes": 2},
    sidecar.SEMANTIC_BANDED: {"dim": 16, "n_planes": 2, "n_bands": 3},
    sidecar.IVF: {"quantizer": "0" * 32},
    sidecar.DSIR: {"n_buckets": 1024, "bigrams": True},
    sidecar.CLF: {"dim": 64},
    sidecar.LM: {"order": 2},
}
ADVISORY = {
    "baseline_cand_per_doc": 2.5,
    "baseline_mean_d2": 0.0,
    "tot_r": 7,
    "tot_t": 5,
}


def _mismatched(keys: dict) -> dict:
    k, v = next(iter(keys.items()))
    return {**keys, k: (not v) if isinstance(v, bool) else v * 2}


def test_every_family_is_covered():
    assert set(FAMILY_KEYS) == set(sidecar.FAMILIES)
    assert len({f.file for f in sidecar.FAMILIES}) == len(sidecar.FAMILIES)
    assert all(f.file.startswith("_") for f in sidecar.FAMILIES)


@pytest.mark.parametrize("fam", sidecar.FAMILIES, ids=lambda f: f.file)
def test_sidecar_contract(spark, tmp_path, fam):
    keys = FAMILY_KEYS[fam]
    d = str(tmp_path / "store")
    spark.createDataFrame([(1,)], "id long").write.parquet(d)

    # absent: a store is legacy and loads unchecked, a model raises
    if fam.model:
        with pytest.raises(ValueError, match=f"no {fam.name} sidecar at"):
            sidecar.check(spark, d, fam, **keys)
    else:
        assert sidecar.check(spark, d, fam, **keys) is None
        assert sidecar.load(spark, d, fam, **keys).count() == 1

    # write then check round-trips, and the sidecar stays invisible
    sidecar.write(spark, d, fam, **keys)
    assert sidecar.check(spark, d, fam, **keys) == keys
    assert spark.read.parquet(d).columns == ["id"]

    # advisory keys never fail a same-family check; a None key is not
    # compared
    sidecar.write(spark, d, fam, **keys, **ADVISORY)
    assert sidecar.check(spark, d, fam, **keys) == {**keys, **ADVISORY}
    first = next(iter(keys))
    assert sidecar.check(spark, d, fam, **{first: None}) is not None

    # a mismatch raises and names the family
    bad = _mismatched(keys)
    with pytest.raises(ValueError, match=f"{fam.name} at .*"
                       f"mixed {fam.what} families") as err:
        sidecar.check(spark, d, fam, **bad)
    assert f"{first}={bad[first]!r}" in str(err.value)

    # a recorded sidecar missing a supplied key mismatches (one rule
    # for every family, the IVF quantizer included)
    sidecar.write(spark, d, fam, **ADVISORY)
    with pytest.raises(ValueError, match=f"mixed {fam.what} families"):
        sidecar.check(spark, d, fam, **keys)


def test_merge_writes_only_changes(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "store")
    keys = FAMILY_KEYS[sidecar.LSH]
    writes = []
    real = fsutil.write_text
    monkeypatch.setattr(
        fsutil, "write_text", lambda *a, **k: (writes.append(a), real(*a, **k))
    )
    # absent: the store adopts the caller's family
    assert sidecar.merge(spark, d, sidecar.LSH, **keys) == keys
    assert len(writes) == 1
    # unchanged: no write
    sidecar.merge(spark, d, sidecar.LSH, **keys)
    assert len(writes) == 1
    # a baseline merges into the recorded family; None leaves it out
    got = sidecar.merge(
        spark, d, sidecar.LSH, baseline_cand_per_doc=1.5, baseline_mean_d2=None
    )
    assert got == {**keys, "baseline_cand_per_doc": 1.5}
    assert sidecar.read(spark, d, sidecar.LSH) == got
    assert len(writes) == 2


def test_staged_text_matches_write(spark, tmp_path):
    d = str(tmp_path / "model")
    params = {"dim": 64, "lr": 1.0, "skipped": None}
    sidecar.write(spark, d, sidecar.CLF, **params)
    (name, text), = sidecar.staged(sidecar.CLF, **params).items()
    assert name == sidecar.CLF.file
    assert fsutil.read_text(spark, f"{d}/{name}") == text
    assert sidecar.read(spark, d, sidecar.CLF) == {"dim": 64, "lr": 1.0}
