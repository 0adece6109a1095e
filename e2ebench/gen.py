"""Seeded input generators and their ground truth.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical files, so two runs of one workload see the same
inputs.  The program under test only ever receives the written files;
the truth returned next to them is what the output checks compare with.
"""

from __future__ import annotations

import os
import random

_AA = "ACDEFGHIKLMNPQRSTVWY"
_NS = "http://psidev.info/psi/pi/mzIdentML/1.1"

#: the q-value threshold the index workload passes to run-pipeline
QVALUE_THRESHOLD = 0.01


# ---------------------------------------------------------------- index


def _expected_qvalues(scores: list[float], decoy: list[bool]) -> list[float]:
    """Target-decoy q-values with lower-is-better scores: FDR = decoys /
    max(targets, 1) over every PSM scoring at least as well, q = the
    minimum FDR at or below the PSM.  Scores are distinct, so ties never
    arise and the convention for them does not matter."""
    order = sorted(range(len(scores)), key=lambda i: scores[i])
    fdr = [0.0] * len(scores)
    d = t = 0
    for i in order:
        if decoy[i]:
            d += 1
        else:
            t += 1
        fdr[i] = d / max(t, 1)
    q = [0.0] * len(scores)
    running = float("inf")
    for i in reversed(order):
        running = min(running, fdr[i])
        q[i] = running
    return q


def index_inputs(seed: int, out_dir: str, n_psms: int) -> dict:
    """One submission: ``submission.mzid`` (one rank-1 PSM per spectrum,
    25% decoys, peptides shared by 1-3 proteins) and ``run1.mgf`` (short
    spectra; about 5% of the identified spectra are missing from it and
    about 10% of its spectra are unidentified).

    Scores are distinct Comet e-values (lower is better) drawn so that
    targets tend to beat decoys; the returned truth replays the FDR on
    them and counts, among PSMs whose spectrum is in the MGF, the
    targets and decoys that pass :data:`QVALUE_THRESHOLD` and the
    distinct proteins they name."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_prot = max(n_psms // 20, 10)
    n_pep = max(n_psms // 3, 10)
    peptides = [
        "".join(rng.choice(_AA) for _ in range(rng.randint(8, 14))) + "K"
        for _ in range(n_pep)
    ]
    # each peptide belongs to 1-3 proteins; decoy peptides to DECOY_ ones
    pep_prots = [
        sorted(rng.sample(range(n_prot), rng.randint(1, 3))) for _ in range(n_pep)
    ]
    n_spectra = int(n_psms * 1.10)
    n_mgf = int(n_psms * 1.05)
    spec_idx = rng.sample(range(n_spectra), n_psms)
    decoy = [rng.random() < 0.25 for _ in range(n_psms)]
    pep_of = [rng.randrange(n_pep) for _ in range(n_psms)]
    # targets: half excellent (log-e in [-8,-2]), half noise like decoys
    used: set[float] = set()
    scores = []
    for i in range(n_psms):
        while True:
            if not decoy[i] and rng.random() < 0.6:
                s = round(10 ** rng.uniform(-8, -2), 12)
            else:
                s = round(10 ** rng.uniform(-3.5, 1), 12)
            if s not in used:
                used.add(s)
                scores.append(s)
                break

    mzid = os.path.join(out_dir, "submission.mzid")
    with open(mzid, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write(f'<MzIdentML xmlns="{_NS}" version="1.1.0">\n<SequenceCollection>\n')
        for p in range(n_prot):
            f.write(f'<DBSequence id="DBT_{p}" accession="PROT{p:05d}"/>\n')
            f.write(f'<DBSequence id="DBD_{p}" accession="DECOY_PROT{p:05d}"/>\n')
        for j, seq in enumerate(peptides):
            f.write(f'<Peptide id="Pep_{j}"><PeptideSequence>{seq}</PeptideSequence></Peptide>\n')
        for j in range(n_pep):
            for p in pep_prots[j]:
                f.write(
                    f'<PeptideEvidence id="PE_{j}_{p}" peptide_ref="Pep_{j}" '
                    f'dBSequence_ref="DBT_{p}" isDecoy="false"/>\n'
                    f'<PeptideEvidence id="PED_{j}_{p}" peptide_ref="Pep_{j}" '
                    f'dBSequence_ref="DBD_{p}" isDecoy="true"/>\n'
                )
        f.write("</SequenceCollection>\n<DataCollection>\n")
        f.write(
            '<Inputs><SpectraData id="SD_1" location="file:///data/run1.mgf">'
            '<SpectrumIDFormat><cvParam accession="MS:1000774" '
            'name="multiple peak list nativeID format"/></SpectrumIDFormat>'
            "</SpectraData></Inputs>\n"
        )
        f.write('<AnalysisData><SpectrumIdentificationList id="SIL_1">\n')
        for i in range(n_psms):
            j = pep_of[i]
            pe = "PED" if decoy[i] else "PE"
            refs = "".join(
                f'<PeptideEvidenceRef peptideEvidence_ref="{pe}_{j}_{p}"/>'
                for p in pep_prots[j]
            )
            f.write(
                f'<SpectrumIdentificationResult id="SIR_{i}" '
                f'spectrumID="index={spec_idx[i]}" spectraData_ref="SD_1">'
                f'<SpectrumIdentificationItem id="SII_{i}" rank="1" chargeState="2" '
                f'experimentalMassToCharge="{400 + (i * 37) % 1200}.{i % 97:02d}" '
                f'peptide_ref="Pep_{j}" passThreshold="true">{refs}'
                f'<cvParam accession="MS:1002257" name="Comet:expectation value" '
                f'value="{scores[i]!r}"/>'
                "</SpectrumIdentificationItem></SpectrumIdentificationResult>\n"
            )
        f.write("</SpectrumIdentificationList></AnalysisData>\n</DataCollection>\n</MzIdentML>\n")

    mgf = os.path.join(out_dir, "run1.mgf")
    with open(mgf, "w") as f:
        for s in range(n_mgf):
            peaks = sorted(rng.uniform(100.0, 1500.0) for _ in range(rng.randint(4, 8)))
            f.write(
                f"BEGIN IONS\nTITLE=scan={s}\nPEPMASS={300 + rng.uniform(0, 1200):.4f}\n"
                "CHARGE=2+\n"
            )
            for mz in peaks:
                f.write(f"{mz:.4f}\t{rng.uniform(1, 1000):.2f}\n")
            f.write("END IONS\n")

    q = _expected_qvalues(scores, decoy)
    passing = [
        i for i in range(n_psms) if q[i] <= QVALUE_THRESHOLD and spec_idx[i] < n_mgf
    ]
    proteins = set()
    for i in passing:
        prefix = "DECOY_" if decoy[i] else ""
        proteins.update(f"{prefix}PROT{p:05d}" for p in pep_prots[pep_of[i]])
    return {
        "mzid": mzid,
        "mgf": mgf,
        "psms": n_psms,
        "decoys": sum(decoy),
        "mgf_spectra": n_mgf,
        "archive_targets": sum(1 for i in passing if not decoy[i]),
        "archive_decoys": sum(1 for i in passing if decoy[i]),
        "proteins": len(proteins),
        "bytes": {"mzid": os.path.getsize(mzid), "mgf": os.path.getsize(mgf)},
    }


# --------------------------------------------------------------- curate


def _word(rng: random.Random) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))


def curate_inputs(seed: int, out_dir: str, n_docs: int) -> dict:
    """``documents.parquet`` with ``n_docs`` rows: 60% distinct base
    documents (60-90 tokens from a 4000-word vocabulary), 20% exact
    copies of a base document, 20% copies with exactly one token
    replaced (3-shingle Jaccard to the base >= 0.9).  Ids are shuffled, so
    copies are scattered among the other documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = sorted({_word(rng) for _ in range(4000)})
    n_exact = n_docs // 5
    n_near = n_docs // 5
    n_base = n_docs - n_exact - n_near
    texts: list[str] = []
    seen: set[str] = set()
    bases: list[list[str]] = []
    while len(bases) < n_base:
        toks = [rng.choice(vocab) for _ in range(rng.randint(60, 90))]
        t = " ".join(toks)
        if t not in seen:
            seen.add(t)
            bases.append(toks)
            texts.append(t)
    for _ in range(n_exact):
        texts.append(" ".join(rng.choice(bases)))
    near = 0
    while near < n_near:
        toks = list(rng.choice(bases))
        pos = rng.randrange(len(toks))
        old = toks[pos]
        while toks[pos] == old:
            toks[pos] = rng.choice(vocab)
        t = " ".join(toks)
        if t not in seen:
            seen.add(t)
            texts.append(t)
            near += 1
    ids = list(range(n_docs))
    rng.shuffle(ids)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    order = sorted(range(n_docs), key=lambda i: ids[i])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([ids[i] for i in order], type=pa.int64()),
                "text": pa.array([texts[i] for i in order], type=pa.string()),
            }
        ),
        path,
        row_group_size=max(n_docs // 8, 1),
    )
    return {
        "path": path,
        "docs": n_docs,
        "exact_dups": n_exact,
        "near_dups": n_near,
        "bytes": {"documents": os.path.getsize(path)},
    }
