"""Config-driven pipeline stage runner — the reference's production entry
point (reference run.py:31-60, main.py:56-100), Spark-first.

The reference chains stages through the filesystem: each stage reads the
previous stage's parquet and writes its own (SURVEY.md §3.1 step 7). This
runner keeps that contract (restartability, per-stage inspection) with a
much smaller surface: one subcommand per stage, a JSON config file for
thresholds, parquet in/out.

Usage::

    python -m setu_spark.run [--config cfg.json] [--master local[8]] \
        <extract|clean|analyse|lid|flag_filter|dedup> \
        --input IN_PATH --output OUT_DIR

    # the full pipeline, chained through OUT_DIR/<stage>/
    python -m setu_spark.run all --input crawl.json --output out/

Config keys mirror the stage dataclasses (`CleanConfig`, `AnalysisConfig`,
`FlagConfig`): any JSON key matching a dataclass field overrides the
default, e.g. ``{"clean": {"symbol_ratio_threshold": 0.3},
"flag": {"min_line_count": 5}}``.
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import fields
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from setu_spark.session import get_spark
from setu_spark.sources.io import write_parquet, write_partitioned


def _build_cfg(cls, overrides: dict[str, Any] | None):
    kw = {
        f.name: overrides[f.name]
        for f in fields(cls)
        if overrides and f.name in overrides
    }
    return cls(**kw)


def _read(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def stage_extract(spark, inp: str, out: str, cfg: dict) -> str:
    from setu_spark.stages.extraction import run_extraction

    dst = os.path.join(out, "extracted")
    write_parquet(run_extraction(spark, inp), dst)
    return dst


def stage_clean(spark, inp: str, out: str, cfg: dict) -> str:
    from setu_spark.stages.cleaning import CleanConfig, clean_documents

    df = _read(spark, inp)
    overrides = dict(cfg.get("clean") or {})
    if "repeat_key" not in overrides:
        # reference keys repeated-chunk removal on url (clean_analysis.py:
        # 243-251); fall back to whatever grouping column the corpus has
        for cand in ("url", "source", "doc_id"):
            if cand in df.columns:
                overrides["repeat_key"] = cand
                break
    ccfg = _build_cfg(CleanConfig, overrides)
    cleaned, rejected = clean_documents(df, ccfg)
    dst = os.path.join(out, "cleaned")
    write_parquet(cleaned, dst)
    # the reference's side-channel writer (clean_analysis.py:444-457)
    # becomes a second first-class sink
    write_parquet(rejected, os.path.join(out, "cleaned_rejected"))
    return dst


def stage_analyse(spark, inp: str, out: str, cfg: dict) -> str:
    from setu_spark.stages.analysis import AnalysisConfig, analyse

    acfg = _build_cfg(AnalysisConfig, cfg.get("analysis"))
    dst = os.path.join(out, "doc_stats")
    write_parquet(analyse(_read(spark, inp), acfg), dst)
    return dst


def stage_lid(spark, inp: str, out: str, cfg: dict) -> str:
    from setu_spark.stages.lid import attach_lid

    dst = os.path.join(out, "lid")
    # partitioned by detected language for downstream partition pruning
    # (reference lid.py:820-824)
    write_partitioned(attach_lid(_read(spark, inp)), dst, ["doc_lang"])
    return dst


def stage_flag_filter(spark, inp: str, out: str, cfg: dict) -> str:
    from setu_spark.stages.flagging import (
        FlagConfig,
        filter_documents,
        flag_documents,
    )

    fcfg = _build_cfg(FlagConfig, cfg.get("flag"))
    flagged = flag_documents(_read(spark, inp), fcfg)
    write_parquet(flagged, os.path.join(out, "flagged"))
    dst = os.path.join(out, "survivors")
    write_parquet(filter_documents(flagged, fcfg), dst)
    return dst


def stage_dedup(spark, inp: str, out: str, cfg: dict) -> str:
    from setu_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = _read(spark, inp)
    sig = minhash_signatures(df).cache()
    try:
        write_parquet(sig, os.path.join(out, "minhash_signatures"))
        dst = os.path.join(out, "near_dup_pairs")
        write_parquet(lsh_candidate_pairs(sig), dst)
    finally:
        # both sinks are materialized by now — release the stage cache
        # (the CLI chains stages in one session)
        sig.unpersist(False)
    return dst


def stage_govern(spark, inp: str, out: str, cfg: dict) -> str:
    """Governance pass (beyond-reference): PII redaction + Gopher rule
    battery + deterministic hash split in ONE projection over the input
    corpus — the release-preparation stage a dataset ships through.
    Writes ``governed`` (redacted text + flags + split label) and the
    per-(split, lang) ``dataset_card`` aggregate."""
    from pyspark.sql import functions as F

    from setu_spark.functions.pii import PII_PATTERNS, pii_count, redact_pii
    from setu_spark.operators.curation import split_col
    from setu_spark.operators.quality import gopher_signals

    df = _read(spark, inp)
    keep = [c for c in ("doc_id", "lang", "source") if c in df.columns]
    base = df.select(
        *keep,
        redact_pii("text").alias("text"),
        sum(
            (pii_count("text", k) for k in PII_PATTERNS),
            F.lit(0),
        ).alias("pii_hits"),
        split_col(F.col("doc_id")).alias("split"),
    )
    sigs = gopher_signals(df, keep=("doc_id",))
    governed = base.join(sigs, "doc_id")
    dst = os.path.join(out, "governed")
    write_parquet(governed, dst)
    lang = F.col("lang") if "lang" in df.columns else F.lit("und")
    card = governed.groupBy("split", lang.alias("lang")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("pii_hits").alias("pii_hits"),
        F.sum(F.when(F.col("passes"), 1).otherwise(0)).alias(
            "quality_pass"
        ),
    )
    write_parquet(card, os.path.join(out, "dataset_card"))
    return dst


STAGES = {
    "extract": stage_extract,
    "clean": stage_clean,
    "analyse": stage_analyse,
    "lid": stage_lid,
    "flag_filter": stage_flag_filter,
    "dedup": stage_dedup,
    "govern": stage_govern,
}

#: `all` runs the post-extraction chain (extraction needs raw crawl JSON,
#: the rest chain parquet → parquet).
PIPELINE = ("clean", "analyse", "lid", "flag_filter", "dedup", "govern")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="setu_spark.run", description=__doc__)
    ap.add_argument("stage", choices=[*STAGES, "all"])
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--config", help="JSON config file (per-stage overrides)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    cfg: dict = {}
    if args.config:
        with open(args.config) as fh:
            cfg = json.load(fh)

    spark = get_spark("setu-spark-run", master=args.master)
    if args.stage == "all":
        # filesystem-chained DAG (reference SURVEY.md §3.1 step 7):
        #   clean(raw) → cleaned; analyse(cleaned) → doc_stats;
        #   lid(cleaned) → lid/; flag_filter(doc_stats) → survivors;
        #   dedup(cleaned) → near_dup_pairs
        cleaned = STAGES["clean"](spark, args.input, args.output, cfg)
        print(f"[setu_spark.run] clean -> {cleaned}")
        doc_stats = STAGES["analyse"](spark, cleaned, args.output, cfg)
        print(f"[setu_spark.run] analyse -> {doc_stats}")
        for name, src in (
            ("lid", cleaned),
            ("flag_filter", doc_stats),
            ("dedup", cleaned),
            ("govern", cleaned),
        ):
            dst = STAGES[name](spark, src, args.output, cfg)
            print(f"[setu_spark.run] {name} -> {dst}")
    else:
        dst = STAGES[args.stage](spark, args.input, args.output, cfg)
        print(f"[setu_spark.run] {args.stage} -> {dst}")


if __name__ == "__main__":
    main()
