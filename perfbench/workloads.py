"""The benchmark's workloads: a fixed rotation of registry ops each, run
closed-loop by one client thread over a seeded ``events.parquet``.

Every parameter that shapes a workload's input lives here; the workload's
``why`` in ``BENCHMARK.json`` repeats them in one line.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    n_events: int
    n_users: int
    #: Zipf exponent of the per-user key law; 0 draws keys uniformly.
    zipf_s: float
    #: True when every op in the rotation is a streaming drain.
    streaming: bool
    #: Seconds of ``--seconds`` that one rotation stands for. A run makes
    #: ``round(seconds / rotation_s)`` whole rotations (at least one), so
    #: its work is fixed and every op runs equally often.
    rotation_s: float
    #: Untimed rotations run after set-up and before the timed ones, so
    #: that timing starts once the driver JVM's JIT has settled.
    warm_rotations: int = 0

    def rotations(self, seconds: float) -> int:
        return max(1, round(seconds / self.rotation_s))


#: Each rotation holds one op per kind of work, not every op of its family:
#: every run pays a 20-40 s set-up (one first call per op) and all runs of
#: the benchmark share one time budget, so ops that repeat a sibling's work
#: (``stream_sliding``, ``stream_watermark_late``,
#: ``stream_incremental_rollup``, ``sink_cdc_apply``, ``ts_interval_union``,
#: ``events_anomaly_mad``) are left out to leave time for warm, timed calls.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="streaming",
            ops=(
                # the core drains, each into the memory sink
                "stream_tumbling",
                "stream_session",
                "stream_stateful_counter",
                "stream_dedup",
                "stream_alert_threshold",
                "stream_topk_talkers",
                # the same lifecycle writing to durable sinks
                "sink_stream_parquet",
                "sink_foreach_batch",
            ),
            n_events=20_000,
            n_users=1_500,
            zipf_s=1.1,
            streaming=True,
            rotation_s=8.0,
        ),
        Workload(
            name="dashboard",
            # ts_ewma_timedecay is left out: its DuckDB oracle (a recursive
            # CTE over every active minute) took 53 s at 20k events, longer
            # than a whole run may last.
            ops=(
                "agg_hourly_events",
                "ts_counter_increase",
                "events_funnel",
                "ts_anomaly_zscore",
                "events_concurrency_peak",
                "agg_key_skew_entropy",
                "events_mttr",
            ),
            n_events=20_000,
            n_users=1_500,
            zipf_s=0.0,
            streaming=False,
            rotation_s=5.0,
            warm_rotations=2,
        ),
    )
}
