"""Structured Streaming surface: incremental micro-batch validation.

The reference has no streaming (SURVEY §2.13) and the north rule is
batch-with-resume — so streaming here is a thin, optional front-end that
REUSES the batch engine: each micro-batch flows through the same
check/state machinery (`foreachBatch` → `state.partition_state`, the
builder `state.run_incremental` uses; `stream_verdicts` →
`state.assemble_verdicts`), plus watermark-windowed rate monitors for
arrival-time stats, plus one genuinely custom stateful operator — the
per-user gap sessionizer on `applyInPandasWithState` (sessionize.py).
"""
