"""Shared knobs for availableNow replays of the stateful streams.

``pinned_state_partitions`` scopes the state-shuffle width fix that
_replay_closed_counts introduced in r11 (guide §2.4: partition counts
must fit the data they carry, not the cluster): a stateful operator's
state is WATERMARK/TTL-BOUNDED — |live windows| x |event types|, or the
active-user population for the sessionizer — a few thousand entries
regardless of corpus size, while the stream's state shuffle inherits
``spark.sql.shuffle.partitions``. Left at the session default, every
micro-batch commits (delta + snapshot + commit files) for each of 32
near-empty HDFS state stores; pinned to the state's own scale the replay
measured 17-30 s -> 2.4-8.5 s at sf0.1 (r11).

``SPARK_GRAFT_STREAM_STATE_PARTS`` (default 8) overrides for state-heavy
deployments. The number of state partitions is captured by the streaming
query AT ``start()`` and kept for the query's lifetime, so only the
``start()`` call needs to run under the pin.

CONTRACT (ADVICE r11): the override mutates the SESSION-global
``spark.sql.shuffle.partitions`` between ``__enter__`` and ``__exit__``.
Any batch plan PLANNED concurrently on the same SparkSession from
another driver thread would silently inherit the narrowed width — the
engine's query paths are single-threaded per session (the bench, the
oracle driver, and the CLI all call queries sequentially), and that
assumption is what makes the conf save/restore sound. A multi-threaded
driver must either serialize replay starts or build the stream on its
own ``spark.newSession()`` clone.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

STATE_PARTS_ENV = "SPARK_GRAFT_STREAM_STATE_PARTS"


@contextmanager
def pinned_state_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to the watermark-bounded
    state width for the duration of a ``writeStream.start()`` call.
    Restores the session value immediately — see module contract for the
    single-threaded-session assumption."""
    state_parts = os.environ.get(STATE_PARTS_ENV, "8")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", state_parts)
    try:
        yield
    finally:
        # the streaming query captured the value at .start(); the
        # session setting must not leak into subsequent batch plans
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
