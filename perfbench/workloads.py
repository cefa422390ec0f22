"""Workload definitions: key sets, steady-pass lengths and metric metadata.

A run holds one fresh JVM, the first pass with the oracle check and the
steady passes, and must stay under a minute on a 4-core box so that the
tens of runs a comparison needs stay cheap. So each workload is a
subset of a larger family of registered keys, picked by a fixed rule
from a traced probe of every key of the family (sf0.1, 4 cores, steady
wall time and build share per key; README.md gives the figures):

- lakehouse_rw: the 32 keys served by ``snapshots.py``, ``iceberg.py``
  and ``deltalog.py``, stratified by source module; from each module,
  the key whose build share (time in the registered call over key wall
  time) is nearest the module's median build share.
- llm_batch: the 16 LLM and graph keys take 58 s a steady pass and 77 s
  a first pass; a run holds a few seconds of each. So for each layer
  this workload should move, the key with the lowest steady wall time
  that exercises it: Python workers (``llm_simhash``, added because none
  of the 16 runs them; it also calls ``load_spread``) and
  ``io.materialize`` plus persisted blocks (``llm_knn_lsh``). The graph
  keys are left out: the cheapest one on the graph module cache,
  ``graph_pagerank``, takes 3-7 s a steady pass and 8-12 s cold, and
  with it the ten-run spread of ``query_tail_s`` reached 0.35.

The 39 TPC-H and ``join_*`` keys form no workload: every workload takes
a share of a fixed budget of runs, and with three workloads a run could
hold only three or four steady passes, too few for ten runs of the same
code to agree within a quarter of their median on a 4-vCPU guest that
loses CPU to other guests. The layers those keys stress most (Catalyst,
eager build jobs, the driver floor) are measured on lakehouse_rw, whose
wall time is 78% build.

The seed only shuffles the key order of each pass.
"""

from __future__ import annotations

#: keys of each workload
KEYS = {
    "llm_batch": [
        "llm_simhash",
        "llm_knn_lsh",
    ],
    "lakehouse_rw": [
        "sink_delta_append",
        "sink_iceberg_expire",
        "snapshot_row_deletes",
    ],
}

#: steady-pass seconds of each workload on the 4-core reference box; a
#: run makes ``--seconds / PASS_S`` steady passes (at least 2), so every
#: run of a given ``--seconds`` takes the same number of samples
PASS_S = {"llm_batch": 3.0, "lakehouse_rw": 3.9}


def steady_passes(workload: str, seconds: int) -> int:
    return max(2, round(seconds / PASS_S[workload]))


#: unit of every per-layer metric
UNITS = {
    "session.start_s": "s",
    "mem.peak_rss_mb": "MB",
    "build.s": "s", "build.jobs": "count", "build.job_s": "s", "build.task_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimize_s": "s", "catalyst.plan_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.gc_s": "s",
    "exec.task_util": "frac", "exec.driver_idle_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes",
    "io.load_spread_calls": "count", "io.materialize_calls": "count",
    "io.materialize_s": "s",
    "cache.bytes_held": "bytes",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "python.run_s": "s", "python.worker_cpu_s": "s",
    "sources.output_bytes": "bytes", "sources.files_written": "count",
    "sources.scratch_bytes": "bytes",
    "trace.overhead_frac": "frac", "trace.failures": "count",
    "trace.untagged_jobs": "count",
}

#: end-to-end metric (on a workload) each per-layer metric should move
MOVES = {
    "session.start_s": "setup_s on every workload",
    "mem.peak_rss_mb": "none: driver memory (VmHWM of the Python driver plus the JVM)",
    "build.s": "query_p50_s and pass_s on lakehouse_rw",
    "build.jobs": "query_p50_s and pass_s on lakehouse_rw",
    "build.job_s": "query_p50_s and pass_s on lakehouse_rw",
    "build.task_s": "pass_s on llm_batch",
    "catalyst.analysis_s": "query_p50_s on lakehouse_rw",
    "catalyst.optimize_s": "query_p50_s on lakehouse_rw",
    "catalyst.plan_s": "query_p50_s on lakehouse_rw",
    "exec.s": "query_p50_s on lakehouse_rw",
    "exec.jobs": "query_p50_s on lakehouse_rw",
    "exec.stages": "query_p50_s on lakehouse_rw",
    "exec.tasks": "query_p50_s on lakehouse_rw",
    "exec.task_s": "pass_s on llm_batch",
    "exec.gc_s": "pass_s on llm_batch",
    "exec.task_util": "pass_s on llm_batch",
    "exec.driver_idle_s": "query_p50_s and pass_s on lakehouse_rw",
    "shuffle.write_bytes": "pass_s and query_tail_s on llm_batch",
    "shuffle.read_bytes": "pass_s and query_tail_s on llm_batch",
    "spill.bytes": "pass_s and query_tail_s on llm_batch",
    "io.load_spread_calls": "pass_s on llm_batch",
    "io.materialize_calls": "pass_s on llm_batch",
    "io.materialize_s": "pass_s on llm_batch",
    "cache.bytes_held": "mem.peak_rss_mb, and first_pass_s minus pass_s on llm_batch",
    "python.bytes_sent": "pass_s on llm_batch",
    "python.bytes_received": "pass_s on llm_batch",
    "python.run_s": "pass_s on llm_batch",
    "python.worker_cpu_s": "pass_s on llm_batch",
    "sources.output_bytes": "pass_s on lakehouse_rw",
    "sources.files_written": "pass_s on lakehouse_rw",
    "sources.scratch_bytes": "pass_s on lakehouse_rw",
    "trace.overhead_frac": "none: traced pass_s over untraced pass_s, minus 1",
    "trace.failures": "none: keys whose stages were evicted before being read",
    "trace.untagged_jobs": "none: jobs of traced passes without a key tag",
}
