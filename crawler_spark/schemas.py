"""Explicit schemas for the engine's page input and its node, walk
and frontier tables, plus the production defaults.

The reference keeps an implicit schema in Redis key/field constants
(reference: pkg/database/redisdb/database.go:20-36,
pkg/store/redistore/store.go:17-25); here those tables are declared
StructTypes. IDs are LongType (the reference's uint32, widened to
avoid unsigned pitfalls), walks ArrayType(LongType) — the reference's
CSV round-trip (pkg/utils/redisutils/format.go:13-41) disappears.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The engine's single external input (BASELINE.json input_hint):
# Common-Crawl-style web pages.
PAGES = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# node registry — reference models.Node (pkg/models/database.go:32-44)
# flattened exactly as redisdb does (database.go:109-129): the three
# record kinds Added/Promotion/Demotion become timestamp columns.
NODES = StructType(
    [
        StructField("node_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("status", StringType(), False),  # 'active' | 'inactive'
        StructField("added_ts", TimestampType()),
        StructField("promoted_ts", TimestampType()),
        StructField("demoted_ts", TimestampType()),
    ]
)

STATUS_ACTIVE = "active"
STATUS_INACTIVE = "inactive"

# random-walk store — reference pkg/models/store.go:8-9; path has no
# repeated node (cycle-break invariant, pkg/walks/generate.go:129-134).
WALKS = StructType(
    [
        StructField("walk_id", LongType(), False),
        StructField("start_id", LongType(), False),
        StructField("path", ArrayType(LongType(), False), False),
    ]
)

# frontier scheduling state (north_rule: politeness + priority queue)
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("node_id", LongType()),
        StructField("priority", DoubleType()),
        StructField("enqueued_ts", TimestampType()),
        StructField("fetched_ts", TimestampType()),
        StructField("state", StringType()),  # 'queued'|'fetched'|'blocked'
    ]
)

# production defaults — reference cmd/crawler.go:59, cmd/config.go:39-48,
# pkg/crawler/crawler.go:117-123, pkg/crawler/arbiter.go:23-31
DEFAULT_ALPHA = 0.85
DEFAULT_WALKS_PER_NODE = 100
DEFAULT_QUERY_BATCH = 50
ARBITER_ACTIVATION_THRESHOLD = 0.01
ARBITER_PROMOTION_MULTIPLIER = 0.1
ARBITER_DEMOTION_MULTIPLIER = 1.05
ARBITER_PROMOTION_WAIT_S = 3600.0
MAX_OUTLINKS_TAGS = 100_000  # ParsePubkeys cap, pkg/crawler/process.go:231
