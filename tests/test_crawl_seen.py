"""Crawl invariance under the URL-seen sketch.

The seen sketch is strictly a pre-filter over the exact anti-join, so the
crawl — frontier membership and request log — must be identical whether the
sketch answers or every candidate takes the exact recheck. The second crawl
patches ``BloomShardStore.tag_maybe`` to mark every row maybe-seen, which
sends all candidates through the anti-join against the frontier.
"""

from __future__ import annotations

from datetime import date, datetime, timezone

import pytest

from pyspark.sql import functions as F

from europarl_crawler_spark.functions.seen import BloomShardStore
from europarl_crawler_spark.plans.epoch import CrawlEngine
from europarl_crawler_spark.sources.epochstore import EpochStore
from europarl_crawler_spark.sources.synthetic import session_days_df, simulated_web

START = datetime(2021, 1, 1, tzinfo=timezone.utc)


def _run(spark, root, name: str, web, days):
    store = EpochStore(root / f"store-{name}")
    eng = CrawlEngine(spark, store, web, prefetch_limit=50, epoch_secs=600.0)
    eng.bootstrap(days)
    eng.run(3, start=START)
    return store


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("crawl-seen")
    days = session_days_df(spark, start=date(2019, 7, 2), n_days=12)
    simulated_web(spark, days).write.parquet(str(root / "web"))
    web = spark.read.parquet(str(root / "web"))
    sketch = _run(spark, root, "sketch", web, days)

    calls = []

    def all_maybe(self, candidates, hash_col):
        calls.append(hash_col)
        return candidates.withColumn("_maybe", F.lit(True))

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(BloomShardStore, "tag_maybe", all_maybe)
        recheck = _run(spark, root, "recheck", web, days)
    # epochs 2 and 3 probe the sketch built over the previous frontier
    assert calls == ["url_id", "url_id"]
    return dict(sketch=sketch, recheck=recheck)


def _snapshot(store, spark, table, cols):
    df = store.read(table, spark).select(*cols)
    return sorted(tuple(r) for r in df.collect())


def test_frontier_identical_with_and_without_sketch(spark, runs):
    cols = ["url_id", "url_hash", "rule_id", "url"]
    got = _snapshot(runs["sketch"], spark, "frontier", cols)
    assert got and got == _snapshot(runs["recheck"], spark, "frontier", cols)


def test_request_log_identical_with_and_without_sketch(spark, runs):
    cols = ["url_id", "epoch", "status_code"]
    got = _snapshot(runs["sketch"], spark, "requests", cols)
    assert got and got == _snapshot(runs["recheck"], spark, "requests", cols)
