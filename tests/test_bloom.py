"""Bloom filter: never a false negative; fpp in the right ballpark."""

from __future__ import annotations

import numpy as np

from europarl_crawler_spark.functions.seen import BloomFilter


def test_no_false_negatives():
    rng = np.random.Generator(np.random.Philox(key=7))
    keys = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    bf = BloomFilter.sized(5000, fpp=0.01)
    bf.add_many(keys)
    assert bf.might_contain(keys).all()


def test_false_positive_rate_bounded():
    rng = np.random.Generator(np.random.Philox(key=8))
    keys = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    probe = rng.integers(-(2**62), 2**62, size=20000, dtype=np.int64)
    bf = BloomFilter.sized(5000, fpp=0.01)
    bf.add_many(keys)
    fp = bf.might_contain(probe).mean()  # probes are ~all novel
    assert fp < 0.05


# ---------------------------------------------------------------------------
# Executor-resident Bloom shard store
# ---------------------------------------------------------------------------


def _store_keys(n, seed):
    rng = np.random.Generator(np.random.Philox(key=seed))
    return np.unique(rng.integers(-(2**62), 2**62, size=n, dtype=np.int64))


def test_bloom_shard_store_build_layout_and_membership(spark, tmp_path):
    from europarl_crawler_spark.functions.seen import BloomShardStore

    keys = _store_keys(20000, 51)
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    st = BloomShardStore.build(df, tmp_path / "bloom", n_shards=8)
    files = sorted(p.name for p in (tmp_path / "bloom").glob("shard_*.npy"))
    assert len(files) == 8 and files[0] == "shard_00000.npy"
    assert st.might_contain(keys).all()          # no false negatives
    fresh = _store_keys(50000, 52)
    mask = np.isin(fresh, keys, invert=True)
    assert st.might_contain(fresh[mask]).mean() < 0.03   # ~fpp=0.01
    # no ndarray anywhere on the driver-side handle
    assert not any(isinstance(v, np.ndarray) for v in vars(st).values())


def test_bloom_shard_store_anti_join_exact(spark, tmp_path):
    from europarl_crawler_spark.functions.seen import (
        BloomShardStore,
        anti_join_seen,
    )

    keys = _store_keys(4000, 53)
    seen_keys = keys[:3000]
    cand = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    seen_df = spark.createDataFrame(
        [(int(k),) for k in seen_keys], "url_hash long"
    )
    st = BloomShardStore.build(seen_df, tmp_path / "bloom", n_shards=8)
    got = {r.url_hash for r in anti_join_seen(cand, seen_df, st).collect()}
    assert got == set(keys[3000:].tolist())


def test_shard_store_probe_plan_shape(spark, tmp_path):
    """Pin the residency design in the PLAN: the shard-store probe's
    executed plan carries one pmod-keyed exchange (candidates routed to
    their shard's partition) and exactly one Arrow/Python stage (the
    shard-local probe) — a whole-filter broadcast UDF or a per-row UDF
    would change both."""
    from europarl_crawler_spark.functions.seen import BloomShardStore

    keys = _store_keys(2000, 61)
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    st = BloomShardStore.build(df, tmp_path / "bloom", n_shards=8)
    tagged = st.tag_maybe(df, "url_hash")
    tagged.collect()
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "pmod" in exchanges[0], plan
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
