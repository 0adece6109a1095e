"""The benchmark's workloads: inputs, one pass, output checks, layers.

A workload is a :class:`Workload` with

- ``make_inputs(seed, work_dir)`` -> truth dict with ``records``, the
  input rows one pass processes (untimed; writes files only),
- ``run_pass(spark, truth, out_dir)`` -> result for the check (the timed
  operation, driven through the program's public entry points),
- ``check(truth, out_dir, result)`` -> list of failed checks (untimed),
- ``layers``: the public functions the traced run wraps.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field
from typing import Callable

import gen
from spans import dir_bytes

#: PSMs per submission.  The generated mzIdentML is about 3.3 MB, far
#: below the reader's 32 MiB whole/split switch, so the whole-file DOM
#: parser is the one measured (the split parser is not exercised).
INDEX_PSMS = 5000
#: documents per curated corpus
CURATE_DOCS = 4000


@dataclass
class Layer:
    module: str
    func: str
    span: str  # "<layer>.<operation>"; the time metric is "<span>_s"
    # deferred(out, args, kwargs) -> {metric: value}, run after the pass
    # under the measure job group, so its jobs and time are no layer's
    deferred: Callable | None = None


@dataclass
class Workload:
    name: str
    make_inputs: Callable
    run_pass: Callable
    check: Callable
    layers: list[Layer] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)


def _json_rows(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


# ------------------------------------------------------------ index


def _index_inputs(seed: int, work_dir: str) -> dict:
    truth = gen.index_inputs(seed, os.path.join(work_dir, "index_inputs"), INDEX_PSMS)
    return dict(truth, records=truth["psms"])


def _index_pass(spark, truth: dict, out_dir: str) -> dict:
    from pride_spark.cli import main

    rc = main(
        [
            "run-pipeline",
            "--project", "PXD000001",
            "--result-files", truth["mzid"],
            "--spectra-files", truth["mgf"],
            "--output-dir", out_dir,
            "--qvalue-threshold", str(gen.QVALUE_THRESHOLD),
            "--min-psms", "10",
            "--score-better", "lower",
        ]
    )
    return {"rc": rc}


def _index_check(truth: dict, out_dir: str, result: dict) -> list[str]:
    if result["rc"] != 0:
        return [f"run-pipeline exit code {result['rc']}"]
    bad = []
    archive = _json_rows(os.path.join(out_dir, "archive_spectra"))
    targets = sum(1 for r in archive if not r["isDecoy"])
    decoys = len(archive) - targets
    if targets != truth["archive_targets"]:
        bad.append(f"archive target rows {targets} != expected {truth['archive_targets']}")
    if decoys != truth["archive_decoys"]:
        bad.append(f"archive decoy rows {decoys} != expected {truth['archive_decoys']}")
    usis = [r["usi"] for r in archive]
    if len(set(usis)) != len(usis):
        bad.append(f"{len(usis) - len(set(usis))} duplicate USIs")
    proteins = _json_rows(os.path.join(out_dir, "protein_evidence"))
    if len(proteins) != truth["proteins"]:
        bad.append(f"protein rows {len(proteins)} != expected {truth['proteins']}")
    return bad


def _count_ratio(out, args, kwargs) -> dict:
    """surviving / parsed PSMs of the FDR stage."""
    return {"operators.fdr.pass_ratio": out.count() / max(args[0].count(), 1)}


def _written(metric: str):
    def measure(out, args, kwargs) -> dict:
        path = args[1] if len(args) > 1 else kwargs["path"]
        return {metric: dir_bytes(path) / 1e6}

    return measure


def _clusters(out, args, kwargs) -> dict:
    return {"operators.spectral_cluster.clusters": out.select("clusterId").distinct().count()}


INDEX = Workload(
    name="index-psm-heavy",
    make_inputs=_index_inputs,
    run_pass=_index_pass,
    check=_index_check,
    layers=[
        Layer("pride_spark.plans.ingest", "read_psms_any", "sources.mzid.parse"),
        Layer("pride_spark.plans.ingest", "read_spectra_any", "sources.mgf.read"),
        Layer(
            "pride_spark.plans.generate_index_files", "stage1_filter_and_fdr",
            "operators.fdr.filter_fdr", deferred=_count_ratio,
        ),
        Layer(
            "pride_spark.plans.generate_index_files", "validity_gate",
            "plans.generate_index_files.validity_gate",
        ),
        Layer(
            "pride_spark.sources.jsonlines", "write_jsonlines", "sinks.jsonlines.write",
            deferred=_written("sinks.jsonlines.mb_written"),
        ),
        Layer(
            "pride_spark.sinks.mgf", "write_mgf", "sinks.mgf.write",
            deferred=_written("sinks.mgf.mb_written"),
        ),
        Layer(
            "pride_spark.operators.spectral_cluster", "cluster_spectra",
            "operators.spectral_cluster.cluster", deferred=_clusters,
        ),
        Layer(
            "pride_spark.plans.perform_inference", "perform_inference",
            "plans.perform_inference.infer",
        ),
        Layer("pride_spark.operators.graph", "connected_components", "operators.graph.cc"),
    ],
    notes=[
        "the spectrum join, USI build and protein rollup run lazily inside the first "
        "jsonlines writes, so they are reported under sinks.jsonlines.write_s",
        "the F12 validity counts run in the CLI itself and are reported under other.self_s",
    ],
)


# ----------------------------------------------------------- curate


def _curate_inputs(seed: int, work_dir: str) -> dict:
    truth = gen.curate_inputs(seed, os.path.join(work_dir, "curate_inputs"), CURATE_DOCS)
    return dict(truth, records=truth["docs"])


def _curate_pass(spark, truth: dict, out_dir: str) -> dict:
    from pride_spark.plans.curate_corpus import curate_corpus

    _, report = curate_corpus(spark, spark.read.parquet(truth["path"]), output_dir=out_dir)
    return {"report": report}


def _curate_check(truth: dict, out_dir: str, result: dict) -> list[str]:
    import pyarrow.parquet as pq

    rep = result["report"]
    bad = []
    if rep["input_rows"] != truth["docs"]:
        bad.append(f"input_rows {rep['input_rows']} != {truth['docs']}")
    if rep["gate_drops"]:
        bad.append(f"unexpected gate drops {rep['gate_drops']}")
    if rep["exact_dup_drops"] != truth["exact_dups"]:
        bad.append(f"exact drops {rep['exact_dup_drops']} != planted {truth['exact_dups']}")
    # LSH finds a planted one-token edit (Jaccard >= 0.9) with probability
    # > 0.998 per pair at 4 bands x 2 rows, and no base pair is similar
    near = rep["near_dup_drops"]
    if not 0.98 * truth["near_dups"] <= near <= truth["near_dups"]:
        bad.append(f"near drops {near} outside [0.98, 1] x planted {truth['near_dups']}")
    kept = sum(rep["splits"].values())
    total = kept + rep["exact_dup_drops"] + near + sum(rep["gate_drops"].values())
    if total != truth["docs"]:
        bad.append(f"splits + drops = {total} != input {truth['docs']}")
    written = pq.read_table(out_dir, columns=["doc_id"]).num_rows
    if written != kept:
        bad.append(f"written rows {written} != split total {kept}")
    return bad


def _verified(out, args, kwargs) -> dict:
    return {"operators.dedup.verified_pairs": out.count()}


def _candidates(out, args, kwargs) -> dict:
    return {"operators.dedup.candidate_pairs": out.count()}


CURATE = Workload(
    name="curate-dups",
    make_inputs=_curate_inputs,
    run_pass=_curate_pass,
    check=_curate_check,
    layers=[
        Layer(
            "pride_spark.plans.curate_corpus", "annotate_documents",
            "plans.curate_corpus.annotate",
        ),
        Layer("pride_spark.operators.dedup", "exact_dedup", "operators.dedup.exact"),
        Layer(
            "pride_spark.operators.dedup", "near_dedup_minhash", "operators.dedup.near_dup",
            deferred=_verified,
        ),
        Layer(
            "pride_spark.operators.dedup", "lsh_candidate_pairs",
            "operators.dedup.lsh_candidates", deferred=_candidates,
        ),
        Layer("pride_spark.operators.graph", "connected_components", "operators.graph.cc"),
    ],
    notes=[
        "operators.dedup.near_dup_s includes the LSH candidate generation it calls",
    ],
)

WORKLOADS = {w.name: w for w in (INDEX, CURATE)}
