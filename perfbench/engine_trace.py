"""Traced-run instrumentation: which engine calls get spans, and how spans
and counts become the per-layer metrics.

Every wrapper sits on a boundary the benchmark can reach from outside the
package: methods of the ParquetStateStore / ParquetAppendLog objects it
injects, and module-level functions the engine looks up by name at call
time. Work that runs in Python workers (the ``mapInArrow`` transition) is
not visible to these wrappers; it is measured as the self time of
``apply_transition_batch`` (its span minus its store/log child spans).
"""

from __future__ import annotations

import os

from harness import dir_bytes, p50

# span name -> per-call p50 metric
_CALL_P50 = {
    "backfill.state_row_to_doc": "backfill.state_row_to_doc_ms",
    "backfill.doc_to_state_row": "backfill.doc_to_state_row_ms",
    "merge.transition": "merge.transition_ms",
    "diffkernel.diff_task_maps": "diffkernel.diff_task_maps_ms",
    "ctx.provider": "ctx.provider_ms",
    "store.read_docs": "store.read_docs_ms",
    "store.upsert_rows": "store.upsert_rows_ms",
    "store.read": "store.read_ms",
    "store.upsert": "store.upsert_ms",
    "store.changes_between": "store.changes_between_ms",
    "log.append_rows": "log.append_rows_ms",
    "log.append": "log.append_ms",
    "log.read": "log.read_ms",
}


def instrument_store(tracer, store, log) -> None:
    """Spans on every public store/log call, plus commit retries and the
    bytes each committed version wrote."""

    def written(_out, *_a, **_k):
        v = store.current_version()
        prefix = f"v{v:08d}_"
        tracer.count(
            "store.bytes_written",
            sum(dir_bytes(os.path.join(store.path, d)) for d in os.listdir(store.path) if d.startswith(prefix)),
        )

    def retried(ok, *_a, **_k):
        if not ok:
            tracer.count("store.commit_retries")

    tracer.wrap(store, "read_docs", "store.read_docs")
    tracer.wrap(store, "upsert_rows", "store.upsert_rows", after=written)
    tracer.wrap(store, "read", "store.read")
    tracer.wrap(store, "upsert", "store.upsert", after=written)
    tracer.wrap(store, "changes_between", "store.changes_between")
    tracer.wrap(store, "_try_commit", "store.try_commit", after=retried)
    tracer.wrap(log, "append_rows", "log.append_rows")
    tracer.wrap(log, "append", "log.append")
    tracer.wrap(log, "read", "log.read")


def instrument_driver_path(tracer, store, log) -> None:
    """The streaming pipeline's driver-side batch body: state-row codec,
    transition (with the diff kernel inside it), store and log calls."""
    from cdc_agents_data_stream_spark.operators import merge
    from cdc_agents_data_stream_spark.streaming import pipeline

    def row_bytes(row, *_a, **_k):
        tracer.sample("backfill.state_row_bytes", sum(len(v) for v in row.values() if isinstance(v, str)))

    def transitioned(out, *_a, **_k):
        tracer.count("merge.calls")
        tracer.count("merge.diffs_emitted" if out[1] is not None else "merge.no_diff_calls")

    instrument_store(tracer, store, log)
    tracer.wrap(pipeline, "state_row_to_doc", "backfill.state_row_to_doc")
    tracer.wrap(pipeline, "doc_to_state_row", "backfill.doc_to_state_row", after=row_bytes)
    tracer.wrap(pipeline, "transition", "merge.transition", after=transitioned)
    tracer.wrap(merge, "diff_task_maps", "diffkernel.diff_task_maps")


def instrument_backfill(tracer, store, log) -> None:
    """The batch backfill: ``apply_transition_batch`` (its self time is the
    distributed transition job) and the store/log calls under it."""
    from cdc_agents_data_stream_spark.plans import backfill

    def updated(n, *_a, **_k):
        tracer.count("backfill.sessions_updated", n)

    instrument_store(tracer, store, log)
    tracer.wrap(backfill, "apply_transition_batch", "backfill.transition_job", after=updated)


def put_span_metrics(b, tracer, t0: float, t1: float, units: int) -> None:
    """Per-call p50 of each wrapped call, counts, and self time per layer
    (mean per unit: batch or request) inside [t0, t1)."""
    for span, metric in _CALL_P50.items():
        b.put(metric, p50(tracer.durations_ms(span, t0, t1)))
    for name, v in tracer.counts.items():
        if name in b.units:
            b.put(name, v)
    b.put("backfill.state_row_bytes_p50", p50(tracer.samples.get("backfill.state_row_bytes", [])))
    by_layer: dict[str, float] = {}
    for name, ms in tracer.self_ms(t0, t1):
        layer = name.split(".", 1)[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + ms
    for layer, ms in by_layer.items():
        if f"self.{layer}_ms" in b.units:
            b.put(f"self.{layer}_ms", ms / units)
    job = [ms for name, ms in tracer.self_ms(t0, t1) if name == "backfill.transition_job"]
    b.put("backfill.transition_job_ms", p50(job))


def put_overhead(b, traced: list[float], untraced: list[float]) -> None:
    """Tracing overhead: p50 latency of the traced units minus that of the
    untraced units of the same run."""
    b.put("trace.traced_p50_ms", p50(traced))
    b.put("trace.untraced_p50_ms", p50(untraced))
    b.put("trace.overhead_ms", p50(traced) - p50(untraced))
