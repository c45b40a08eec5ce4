"""Crawl-ordering gate (north_rule): the Spark scheduler's fetch
order must equal a step-by-step pure-pandas oracle under the same
seed list and politeness budget, across multiple ticks with
discoveries enqueued between ticks. The URL-seen set (nodes) is
checked the same way through the admission path."""

import datetime as dt

import numpy as np
from pyspark.sql import functions as F

from crawler_spark import frontier, schemas, seen

NOW = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)


def _oracle_schedule(rows, robots, tick_s, batch_size, default_delay):
    """Reference semantics, row-at-a-time: robots prefix block, per-
    host budget floor(tick/delay) (min 1) over (priority DESC, url),
    then global (priority DESC, url) limit batch_size."""
    robots_map = {r["host"]: r for r in robots}
    blocked, eligible = [], []
    for r in rows:
        if r["state"] != "queued":
            continue
        rb = robots_map.get(r["host"])
        path = r["url"][len("https://") + len(r["host"]):]
        if rb and rb["disallow_prefix"] and path.startswith(rb["disallow_prefix"]):
            blocked.append(r["url"])
            continue
        eligible.append(r)
    out = []
    per_host: dict[str, int] = {}
    for r in sorted(eligible, key=lambda x: (-x["priority"], x["url"])):
        rb = robots_map.get(r["host"])
        delay = rb["crawl_delay_s"] if rb and rb["crawl_delay_s"] else default_delay
        budget = max(1, int(tick_s // delay))
        if per_host.get(r["host"], 0) < budget:
            per_host[r["host"]] = per_host.get(r["host"], 0) + 1
            out.append(r)
    out = sorted(out, key=lambda x: (-x["priority"], x["url"]))[:batch_size]
    return [r["url"] for r in out], set(blocked)


def test_multi_tick_schedule_matches_oracle(spark):
    rng = np.random.RandomState(17)
    hosts = [f"h{i}.test" for i in range(9)]
    robots_rows = [
        {"host": h, "disallow_prefix": "/x" if i % 3 == 0 else None,
         "crawl_delay_s": [5.0, 10.0, 30.0][i % 3]}
        for i, h in enumerate(hosts)
    ]
    # the same robots as an RFC 9309 rule set: a prefix is one
    # Disallow row; a host with no prefix keeps only its delay
    robots = spark.createDataFrame(
        [(r["host"], False, r["disallow_prefix"], r["crawl_delay_s"])
         for r in robots_rows],
        "host string, allow boolean, pattern string, crawl_delay_s double",
    )

    def mk_rows(n, offset):
        rows = []
        for j in range(n):
            i = offset + j
            h = hosts[int(rng.randint(len(hosts)))]
            pfx = "/x" if rng.rand() < 0.2 else "/p"
            rows.append({
                "url": f"https://{h}{pfx}{i:04d}", "host": h,
                "node_id": i, "priority": float(rng.randint(50)),
                "state": "queued",
            })
        return rows

    oracle_rows = mk_rows(120, 0)
    fr = spark.createDataFrame(
        [(r["url"], r["host"], r["node_id"], r["priority"], NOW, None,
          r["state"]) for r in oracle_rows],
        schema=schemas.FRONTIER,
    )

    for tick in range(4):
        batch, fr = frontier.schedule_batch(
            fr, robots, NOW + dt.timedelta(minutes=tick),
            tick_seconds=60.0, batch_size=25,
        )
        fr = fr.localCheckpoint()
        got = [r.url for r in batch.orderBy(F.desc("priority"), "url").collect()]
        want, blocked = _oracle_schedule(oracle_rows, robots_rows, 60.0, 25, 1.0)
        assert got == want, f"tick {tick}"
        # oracle state transitions
        for r in oracle_rows:
            if r["url"] in want:
                r["state"] = "fetched"
            elif r["url"] in blocked:
                r["state"] = "blocked"
        # discoveries between ticks
        new_rows = mk_rows(30, 1000 * (tick + 1))
        oracle_rows.extend(new_rows)
        add = spark.createDataFrame(
            [(r["url"], r["node_id"], r["priority"]) for r in new_rows],
            "url string, node_id long, priority double",
        )
        fr = frontier.enqueue(fr, add, NOW + dt.timedelta(minutes=tick))

    # terminal states agree
    spark_states = {r.url: r.state for r in fr.collect()}
    for r in oracle_rows:
        assert spark_states[r["url"]] == r["state"], r["url"]


def test_seen_membership_matches_oracle(spark):
    """URL-seen membership through the bloom+verify path equals plain
    set membership for any candidate mix."""
    seen_urls = [f"https://s{i % 11}.test/k{i}" for i in range(2500)]
    cands = [f"https://s{i % 11}.test/k{i}" for i in range(1000, 4500)]
    seen_df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cand_df = spark.createDataFrame([(u,) for u in cands], "url string")
    filters = seen.build_seen_filters(seen_df, n_buckets=8)
    admitted = {
        r.url for r in seen.admit_new_urls(cand_df, filters, seen_df, 8).collect()
    }
    oracle = set(cands) - set(seen_urls)
    assert admitted == oracle
