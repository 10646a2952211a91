"""The benchmark's workloads: generated inputs plus a fixed query mix.

Each mix runs in the listed order, one query at a time (a closed loop
with one client). Queries are the registry's own builders, called the
way ``__spark_entry__.queries()`` hands them out.

A run makes ``warmup`` untimed passes over the mix (still verified: a
cold JVM compiles each query's code paths on first use, which would
dominate the first pass), then at least ``passes`` timed ones; each
query's time is its median over the timed passes, so a pass that a burst
of load on the host slowed does not set the figure.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import Scale


@dataclass(frozen=True)
class Workload:
    name: str
    scale: Scale
    #: registered query names, run in this order; empty for the pipeline
    mix: tuple[str, ...] = ()
    #: tables each query scans (input rows per query = their row sum)
    reads: tuple[tuple[str, ...], ...] = ()
    #: untimed passes before the timed ones
    warmup: int = 0
    #: least number of timed passes per run
    passes: int = 1


DOCS = ("documents",)
VECS = ("embeddings",)

_REGISTRY_SMALL = (
    # relational
    ("q01_pricing_summary", ("lineitem",)),
    # text
    ("q30_doc_word_stats", DOCS),
    # events
    ("q70_hourly_event_stats", ("events",)),
    # pipeline stages as one query
    ("q81_flag_filter_survivors", DOCS),
    # construction-heavy: BPE loops, IVF sizing probe, CC funnel
    ("q141_bpe_compression_curve", DOCS),
    ("q143_ivf_cell_balance", VECS),
    ("q56_dedup_components", DOCS),
)

#: Queries ROADMAP names that no mix runs, and why.
_PASS_BUDGET = (
    "four passes of the mix must fit one run of about 85 s with set-up "
    "and oracles; "
)
EXCLUDED = {
    "q139_bpe_merge_iterations": _PASS_BUDGET + (
        "q141 runs the same BPE merge loop"),
    "q144_leak_free_split": _PASS_BUDGET + (
        "q56 runs the same CC funnel"),
    "q99_gopher_quality_rules": _PASS_BUDGET + (
        "q30 and q81 cover the text kernels"),
    "q138_margin_pair_mining_ann": (
        "its DuckDB oracle takes ~11 s per seed at 2k vectors on 4 cores; "
        "with a fresh seed per run that alone exceeds the run budget"
    ),
    "q140_margin_ann_recall_audit": (
        "its DuckDB oracle takes ~18 s per seed at 2k vectors on 4 cores"
    ),
    "q151_joint_dedup_agreement": (
        "its raw/collapsed chooser compares approx_count_distinct (5% "
        "relative error) with a 5% duplicate threshold: at 5k docs with "
        "0.4% true text duplicates the estimate reads 3.9-6.8% by seed, "
        "the plan flips (~5.5 s vs ~11 s) and wall time cannot be steady"
    ),
}

WORKLOADS = {
    "registry-small": Workload(
        "registry-small",
        # smaller than sf0.1 where it buys run time: the DuckDB oracles
        # behind q56 (MinHash) and q143 (k-means) take ~16 s per seed at
        # 5k docs and 2k vectors, and q01's 600k-row scan ~1.5 s a pass
        Scale(docs=1_000, vectors=1_000, lineitem=200_000),
        tuple(q for q, _ in _REGISTRY_SMALL),
        tuple(r for _, r in _REGISTRY_SMALL),
        warmup=1,
        passes=3,
    ),
    "pipeline-write": Workload(
        "pipeline-write",
        Scale(docs=5_000, rare_words=200_000, rare_frac=0.5, tables=DOCS),
    ),
}

#: ``setu_spark.run`` config equal to the q80/q81/q82 stage configs, so
#: the pipeline's cleaned / survivors / lid outputs replay those oracles.
PIPELINE_CONFIG = {
    "clean": {"chunk_sep": " ", "repeat_key": "source",
              "remove_terminal_invalid": False},
    "analysis": {"line_sep": " ", "flagged_words": ["slow", "error", "big"]},
    "flag": {"min_line_count": 20, "min_mean_line_len": 0.9,
             "flagged_word_ratio_threshold": 0.15},
}
