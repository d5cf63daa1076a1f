"""The r7 banded-hamming fast path: the single-task pair kernel must
produce the EXACT pair multiset of the distributed clique/star plan
(duplicates across shared bands included), across bucket caps and hot
clusters, and the probe must respect the row bound and id-type gate."""

import random
from collections import Counter

import pytest

import tdei_backend_service_spark.pipeline.dedup as DD


def _fold(u):
    u &= (1 << 64) - 1
    return u - (1 << 64) if u >= 1 << 63 else u


def _pairs(df, cap, monkeypatch, local):
    monkeypatch.setattr(DD, "_HASH_PAIRS_LOCAL_MAX_ROWS",
                        10**9 if local else 0)
    pairs, cache = DD._hash_pairs(df, "phash", "image_id", 3, cap)
    out = Counter(map(tuple, pairs.collect()))
    if cache is not None:
        cache.unpersist()
    return out


def test_local_pair_multiset_matches_distributed(spark, monkeypatch):
    rng = random.Random(31)
    n = 400
    base = [rng.getrandbits(64) for _ in range(8)]
    rows = []
    for i in range(n):
        u = base[rng.randrange(8)] if rng.random() < 0.7 \
            else rng.getrandbits(64)
        for _ in range(rng.randint(0, 4)):
            u ^= 1 << rng.randrange(64)
        rows.append((i, _fold(u)))
    df = spark.createDataFrame(rows, "image_id long, phash long")
    for cap in (4, 64):
        local = _pairs(df, cap, monkeypatch, True)
        dist = _pairs(df, cap, monkeypatch, False)
        assert local == dist, f"cap={cap}"
        assert sum(local.values()) > 0


def test_string_ids_stay_distributed(spark, monkeypatch):
    # non-long ids must not enter the numpy kernel
    monkeypatch.setattr(DD, "_HASH_PAIRS_LOCAL_MAX_ROWS", 10**9)
    df = spark.createDataFrame([("a", 5), ("b", 5)],
                               "image_id string, phash long")
    pairs, cache = DD._hash_pairs(df, "phash", "image_id", 3, 64)
    assert sorted(map(tuple, pairs.collect())) == [("a", "b")] * 4
    if cache is not None:
        cache.unpersist()


def test_repeated_ids_match_distributed(spark, monkeypatch):
    """A re-delivered id (the same id on several rows, with equal or
    different hashes) never pairs with itself on either path, and both
    paths give the same pair multiset — in clique and in star buckets,
    where the anchor is the min (id, hash) row."""
    rng = random.Random(37)
    base = [rng.getrandbits(64) for _ in range(4)]
    rows = []
    for i in range(120):
        u = base[rng.randrange(4)]
        for _ in range(rng.randint(0, 2)):
            u ^= 1 << rng.randrange(64)
        rows.append((i, _fold(u)))
        if i % 4 == 0:  # sent twice: same hash
            rows.append((i, _fold(u)))
        if i % 10 == 0:  # and once more with a near hash
            rows.append((i, _fold(u ^ (1 << rng.randrange(64)))))
    df = spark.createDataFrame(rows, "image_id long, phash long")
    for cap in (3, 64):
        local = _pairs(df, cap, monkeypatch, True)
        dist = _pairs(df, cap, monkeypatch, False)
        assert local == dist, f"cap={cap}"
        assert sum(local.values()) > 0
        assert all(l != r for l, r in local)


def test_repeated_id_alone_has_no_pairs(spark, monkeypatch):
    # one id delivered three times is one record: no (id, id) pair
    df = spark.createDataFrame([(7, 5), (7, 5), (7, 5)],
                               "image_id long, phash long")
    assert _pairs(df, 64, monkeypatch, True) == Counter()
    assert _pairs(df, 64, monkeypatch, False) == Counter()
