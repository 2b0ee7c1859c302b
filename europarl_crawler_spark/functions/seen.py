"""Sharded URL-seen set: exact anti-join + Bloom pre-filter.

north_rule: a sharded URL-seen set keyed by canonicalized+hashed URLs.
The reference's seen set is the UNIQUE(rule_id, url) constraint on the urls
table (reference: europarl/db/url.py:45); here membership is EXACT via a
left_anti join against the frontier table on ``url_hash`` — the Bloom filter
is strictly a *pre-filter* that lets most provably-new candidates skip the
anti-join shuffle. False positives only cost a recheck; false negatives are
impossible, so correctness never depends on the sketch (SURVEY §4.2).

The sketch is ``BloomShardStore``: per-shard bitset FILES written by the
executors that built them, probed shard-locally after a pmod repartition;
no process ever holds more than one shard, the form that survives a
10^10-URL frontier.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MASK = (1 << 64) - 1
# splitmix64 finalizer — cheap independent rehash of the already-uniform
# xxhash64 url_hash for the k probe positions
_C1, _C2 = 0xBF58476D1CE4E5B9, 0x94D049BB133111EB


def _mix(h: np.ndarray, seed: int) -> np.ndarray:
    z = (h + np.uint64(seed * 0x9E3779B97F4A7C15 & _MASK)) & np.uint64(_MASK)
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(_C1)) & np.uint64(_MASK)
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(_C2)) & np.uint64(_MASK)
    return z ^ (z >> np.uint64(31))


class BloomFilter:
    """Fixed-size bitset Bloom filter over int64 keys."""

    def __init__(self, n_bits: int, k: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(n_bits // 8 + 1, dtype=np.uint8)

    @classmethod
    def sized(cls, expected: int, fpp: float = 0.01) -> "BloomFilter":
        n_bits = max(64, int(-expected * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(n_bits / max(expected, 1) * math.log(2)))
        return cls(n_bits, min(k, 8))

    def _positions(self, hashes: np.ndarray) -> list[np.ndarray]:
        h = hashes.astype(np.int64).view(np.uint64)
        return [(_mix(h, i) % np.uint64(self.n_bits)).astype(np.int64) for i in range(self.k)]

    def add_many(self, hashes: np.ndarray) -> None:
        for pos in self._positions(hashes):
            np.bitwise_or.at(self.bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        out = np.ones(len(hashes), dtype=bool)
        for pos in self._positions(hashes):
            out &= (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8) & 1).astype(bool)
        return out


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    sketch: "BloomShardStore | None" = None,
    hash_col: str = "url_hash",
) -> DataFrame:
    """candidates not in seen — exact; the sketch only short-circuits the shuffle.

    With a :class:`BloomShardStore`, provably-new rows (not in the sketch)
    bypass the anti-join entirely; only the maybe-seen slice shuffles. At a
    10^10-row seen set with mostly-fresh candidates this cuts the anti-join
    input by ~(1 - fpp) and keeps the big shuffle proportional to the
    *revisit* rate, not the candidate rate.
    """
    if sketch is None:
        return candidates.join(seen.select(hash_col), hash_col, "left_anti")

    tagged = sketch.tag_maybe(candidates, hash_col)
    fresh = tagged.filter(~F.col("_maybe")).drop("_maybe")
    rechecked = (
        tagged.filter(F.col("_maybe"))
        .drop("_maybe")
        .join(seen.select(hash_col), hash_col, "left_anti")
    )
    return fresh.unionByName(rechecked)


# Per-process probe cache: (shard file path, mtime_ns) -> bitset. mtime-keyed
# so a rebuilt shard invalidates executor copies on the next probe; bounded
# LRU so a task that happens to own several shards never grows past
# _CACHE_MAX bitsets.
_SHARD_CACHE: dict[tuple, np.ndarray] = {}
_CACHE_MAX = 8


def _load_shard_table(path) -> np.ndarray:
    import os

    key = (str(path), os.stat(path).st_mtime_ns)
    t = _SHARD_CACHE.get(key)
    if t is None:
        t = np.load(path)
        stale = [k for k in _SHARD_CACHE if k[0] == key[0]]
        for k in stale:
            del _SHARD_CACHE[k]
        while len(_SHARD_CACHE) >= _CACHE_MAX:
            del _SHARD_CACHE[next(iter(_SHARD_CACHE))]
        _SHARD_CACHE[key] = t
    return t


class BloomShardStore:
    """Executor-resident sharded Bloom filter: one uint8 bitset file per
    shard (``root/shard_NNNNN.npy`` + ``root/meta.json``). A whole-frontier
    Bloom at 1% fpp is ~12 GB at 10^10 URLs; no process ever holds it.

    Probes repartition by ``pmod(url_hash, n_shards)`` and each task loads
    ONLY its shards (mtime-keyed per-process LRU); builds write shard files
    from the executors that built them (tmp + atomic rename, idempotent
    under task retry). The ``root`` must be storage every task can reach — a
    local dir under local[*], shared/object storage on a cluster. Strictly a
    pre-filter: any lost/corrupt shard only costs extra maybe-seen rechecks
    in the exact anti-join.
    """

    def __init__(self, root):
        import json
        from pathlib import Path

        self.root = Path(root)
        with open(self.root / "meta.json") as fh:
            meta = json.load(fh)
        self.n_shards = int(meta["n_shards"])
        self.n_bits = int(meta["n_bits"])
        self.k = int(meta["k"])

    def _shard_path(self, sid: int):
        return self.root / f"shard_{sid:05d}.npy"

    @classmethod
    def build(
        cls,
        seen: DataFrame,
        root,
        hash_col: str = "url_hash",
        expected: int | None = None,
        n_shards: int = 16,
        fpp: float = 0.01,
    ) -> "BloomShardStore":
        """Distributed build, executor-write: every shard's bitset is sized
        for expected/n_shards keys and written straight to its file; only
        per-shard stats reach the driver."""
        import json
        import os
        from pathlib import Path

        if expected is None:
            expected = max(seen.count(), 1)
        proto = BloomFilter.sized(max(expected // n_shards, 1), fpp)
        n_bits, k = proto.n_bits, proto.k
        rootp = Path(root)
        rootp.mkdir(parents=True, exist_ok=True)
        for old in rootp.glob("shard_*.npy"):
            old.unlink()
        root_s = str(rootp)

        rows = seen.select(
            F.col(hash_col).alias("h"),
            F.pmod(F.col(hash_col), F.lit(n_shards)).alias("s"),
        ).repartition(n_shards, "s")

        def part(it):
            chunks: dict[int, list[np.ndarray]] = {}
            for pdf in it:
                sh = pdf["s"].to_numpy(dtype=np.int64)
                hv = pdf["h"].to_numpy(dtype=np.int64)
                for sid in np.unique(sh):
                    chunks.setdefault(int(sid), []).append(hv[sh == sid])
            for sid, parts_ in chunks.items():
                bf = BloomFilter(n_bits, k)
                bf.add_many(np.concatenate(parts_))
                p = os.path.join(root_s, f"shard_{sid:05d}.npy")
                tmp = p + f".tmp-{os.getpid()}"
                np.save(tmp, bf.bits)
                os.replace(tmp + ".npy", p)
                yield pd.DataFrame(
                    {"shard": [sid], "n_keys": [sum(map(len, parts_))]}
                )

        rows.mapInPandas(part, schema="shard int, n_keys long").collect()
        with open(rootp / "meta.json", "w") as fh:
            json.dump(
                {"n_shards": int(n_shards), "n_bits": int(n_bits), "k": int(k)},
                fh,
            )
        return cls(rootp)

    # -- probe ---------------------------------------------------------------

    def tag_maybe(self, candidates: DataFrame, hash_col: str) -> DataFrame:
        """candidates + boolean ``_maybe`` column, shard-local probe.

        The one shuffle is the candidate repartition by shard — the price
        of never holding more than one shard per task; at 10^10 URLs that
        shuffle is O(candidates), where a broadcast filter would be
        O(filter) PER EXECUTOR. Row order within partitions is irrelevant
        downstream (the caller filters on _maybe and unions)."""
        from pyspark.sql import types as T

        n_shards, n_bits, k = self.n_shards, self.n_bits, self.k
        root_s = str(self.root)
        out_schema = T.StructType(
            candidates.schema.fields
            + [T.StructField("_maybe", T.BooleanType())]
        )

        def probe(it):
            import os

            for pdf in it:
                h = pdf[hash_col].to_numpy(dtype=np.int64)
                maybe = np.zeros(len(h), dtype=bool)
                s = np.mod(h, n_shards)
                for sid in np.unique(s):
                    p = os.path.join(root_s, f"shard_{int(sid):05d}.npy")
                    if not os.path.exists(p):
                        continue  # nothing inserted in this shard => all new
                    bf = BloomFilter(n_bits, k, _load_shard_table(p))
                    m = s == sid
                    maybe[m] = bf.might_contain(h[m])
                out = pdf.copy()
                out["_maybe"] = pd.Series(maybe, index=pdf.index)
                yield out

        return (
            candidates.repartition(
                n_shards, F.pmod(F.col(hash_col), F.lit(n_shards))
            ).mapInPandas(probe, schema=out_schema)
        )

    def might_contain(self, hashes) -> np.ndarray:
        """Driver-side probe (tests / small arrays) — shard-at-a-time; the
        data-plane path is :meth:`tag_maybe`."""
        h = np.asarray(hashes, dtype=np.int64)
        out = np.zeros(len(h), dtype=bool)
        s = np.mod(h, self.n_shards)
        for sid in np.unique(s):
            p = self._shard_path(int(sid))
            if not p.exists():
                continue
            bf = BloomFilter(self.n_bits, self.k, _load_shard_table(p))
            m = s == sid
            out[m] = bf.might_contain(h[m])
        return out
