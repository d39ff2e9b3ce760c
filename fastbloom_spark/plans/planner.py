"""Build planner — the engine's cost model for sketch jobs.

The reference's "planner" is its optimal-parameter math (fastbloom
``src/builder.rs:247-276``: choose m, k from n, fp). At cluster scale two
more decisions join it, both driven by the same arithmetic:

* **build parallelism**: every extra build partition adds one m/8-byte
  partial to merge traffic, but divides kernel wall time. Small tasks
  (< ~50k rows) are all fixed cost; huge partial states (> budget) are all
  transport.
* **merge topology**: below ~1 GiB of raw partial state, a single Arrow
  collect + driver fold is the fastest merge (zero shuffle). Above it the
  states must not converge on one node: sketches take the distributed
  two-phase merge tree, and a Bloom build the range-sharded merge, which
  keeps every node's footprint at m/8 / shards and the driver's at
  exactly m/8.

``plan_global_merge`` makes the merge choice for every global build
(``sketch_build`` and ``bloom_build``); ``plan_bloom_build`` adds Bloom's
parallelism and scan choices. The operator layer and any caller reasoning
about a job (tests, bench, capacity planning) agree through them.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..config import BloomConfig

#: below this many rows per task, fixed per-partial costs dominate
MIN_ROWS_PER_TASK = 50_000

#: raw partial-state bytes above which the merge must not converge on one node
DRIVER_MERGE_BUDGET = 1 << 30

#: estimated partial-state bytes (keys x partitions x state) above which a
#: grouped sketch_agg / bloom_agg shuffles its rows instead of building
#: per-(key, partition) partials. Round 7 lowered it from 1 GiB: at 512 MB
#: of raw partial state the decode+merge already dominates — measured 3.1 s
#: partial vs 1.9 s shuffle for 8 keys x 64 partitions x 1 MB Bloom
#: sketches at sf1.0.
PARTIAL_STATE_BUDGET = 1 << 28

#: measured steady-state kernel rates (rows/s/core) on the bench box —
#: coarse constants are fine: P* depends on their square root
KERNEL_RATE = {"flat": 1.5e6, "block64": 8.0e6}

#: sketch-state transport rate (Arrow collect / shuffle), bytes/s
TRANSPORT_RATE = 1.5e9

#: scan+digest per-core rate (rows/s) and digest-shuffle rate (rows/s) —
#: coarse measured constants for the coalesce-vs-shuffle decision
SCAN_RATE_CORE = 0.5e6
DIGEST_SHUFFLE_RATE = 8.0e6


@dataclass(frozen=True)
class BuildPlan:
    config: BloomConfig
    build_partitions: int
    merge_strategy: str  # "driver_collect" | "range_sharded"
    partial_state_bytes: int
    #: "coalesce" narrows scan+build together; "shuffle" keeps the expensive
    #: scan/digest stage at full input parallelism and repartitions only the
    #: 8-byte digests down to the build tasks (digests are ~100x smaller than
    #: the content they came from — the shuffle is cheap, the scan speedup
    #: is not)
    scan_strategy: str = "coalesce"

    @property
    def per_partial_bytes(self) -> int:
        return self.config.num_words * 8


def plan_global_merge(partials: int, state_bytes: int) -> str:
    """Where a global build's partial states converge: ``"driver_collect"``
    (Arrow collect + driver fold) while ``partials * state_bytes`` fits
    :data:`DRIVER_MERGE_BUDGET`, else ``"tree"`` (a distributed merge)."""
    if partials * state_bytes <= DRIVER_MERGE_BUDGET:
        return "driver_collect"
    return "tree"


def plan_bloom_build(
    cfg: BloomConfig,
    *,
    input_partitions: int,
    default_parallelism: int,
    expected_items: int | None = None,
) -> BuildPlan:
    """Choose build parallelism and merge topology for a global Bloom build.

    Cost model: kernel wall ~ n / (P * kernel_rate); merge transport ~
    P * m/8 / transport_rate. The continuous optimum is
    ``P* = sqrt(n * transport_rate / (kernel_rate * m_bytes))`` — faster
    kernels (block64) and bigger filters both push P* DOWN, because partials
    cost more than the parallelism they buy.
    """
    import math

    m_bytes = cfg.num_words * 8
    p_max = max(min(input_partitions, max(default_parallelism, 1)), 1)
    if expected_items:
        n = int(expected_items)
        p_max = max(min(p_max, n // MIN_ROWS_PER_TASK), 1)
        rate = KERNEL_RATE.get(cfg.layout, KERNEL_RATE["flat"])
        p_star = max(1, round(math.sqrt(
            n * TRANSPORT_RATE / (rate * max(m_bytes, 1)))))
    else:
        p_star = p_max

    if plan_global_merge(min(p_star, p_max), m_bytes) == "driver_collect":
        # driver-merge regime: transport converges on one node, so the
        # cost-model optimum P* caps parallelism
        p_build = min(p_max, p_star)
        strategy = "driver_collect"
    else:
        # sharded regime: merge transport is parallel across shard reducers,
        # so keep full kernel parallelism
        p_build = p_max
        strategy = "range_sharded"
    state_bytes = p_build * m_bytes
    # narrowing the build below the cores available also narrows the
    # scan/digest stage; shuffling the 8-byte digests keeps the scan wide
    # but pays a shuffle. Choose by estimated cost: coalesce penalty =
    # n/scan_rate * (1/p_build - 1/p_wide) vs shuffle = n/shuffle_rate.
    scan_strategy = "coalesce"
    p_wide = min(input_partitions, max(default_parallelism, 1))
    if expected_items and p_build < p_wide:
        n = int(expected_items)
        coalesce_penalty = n / SCAN_RATE_CORE * (1.0 / p_build - 1.0 / p_wide)
        shuffle_cost = n / DIGEST_SHUFFLE_RATE
        if coalesce_penalty > shuffle_cost:
            scan_strategy = "shuffle"
    return BuildPlan(
        config=cfg,
        build_partitions=p_build,
        merge_strategy=strategy,
        partial_state_bytes=state_bytes,
        scan_strategy=scan_strategy,
    )
