"""Structured Streaming analogs of the reference's live-queue mode.

The reference is a streaming system (AMQP consumers → pipe → producers);
our v1 north rule is batch-with-resume, so these modules are the
documented streaming path (SURVEY §2.11): the append-mode and keyed
micro-batch pipelines, the stateful per-conversation accumulator that
mirrors GroupAndVerify's actor-per-tree with timeout, ``stream_*``
transforms, and the foreachBatch sinks that commit through the Catalog
(``run_stream_dedup``, ``run_stream_anomaly``, ``run_stream_counter_rate``
with ``read_counter_rates``, ``run_stream_burn_rate``,
``run_stream_rate_limit``).
"""

from .stream_pipeline import (  # noqa: F401
    read_counter_rates,
    read_docs_stream,
    read_events_stream,
    read_transcripts_stream,
    run_stream_anomaly,
    run_stream_burn_rate,
    run_stream_counter_rate,
    run_stream_dedup,
    run_stream_pipeline,
    run_stream_pipeline_keyed,
    run_stream_rate_limit,
    stateful_group_verify,
    stream_correlate,
    stream_exact_dedup,
    stream_hll_state,
    stream_rollup,
    stream_session_stats,
    stream_windowed_metrics,
)
