"""Seeded input generation for the benchmark.

Every input is a pure function of the seed: EDF nights for the nightly
ELT, a pre-staged epoch cohort for dashboard serving, and a document
corpus for the training-corpus build.  The generators also return the
answers the benchmark checks against (which subjects must be
quarantined, how many epochs must land, the corpus audit counts), so
the checks never ask the system under test for its own expectations.

Nothing here starts Spark; the program under test sees only the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sleep_edf_data_pipeline_spark.operators.text import LANG_MARKERS
from sleep_edf_data_pipeline_spark.plans.corpus_pipeline import (
    CHUNK_STRIDE,
    DECONTAM_N,
    EVAL_MOD,
)
from sleep_edf_data_pipeline_spark.sources.edf_format import write_edf
from sleep_edf_data_pipeline_spark.sources.seed import seed_epochs_pandas

SFREQ = 100.0
EPOCH_S = 30
SAMPLES_PER_EPOCH = int(SFREQ * EPOCH_S)
CHANNELS = ("EEG Fpz-Cz", "EEG Pz-Oz", "EOG horizontal")

#: Clinical stage -> PhysioNet annotation string.
ANNOTATION = {
    "W": "Sleep stage W",
    "N1": "Sleep stage 1",
    "N2": "Sleep stage 2",
    "N3": "Sleep stage 3",
    "REM": "Sleep stage R",
}
#: Annotations the ingest drops before validation (movement, unscored).
DROPPED_ANNOTATIONS = ("Movement time", "Sleep stage ?")
#: An annotation outside the stage contract: its subject is quarantined.
BAD_ANNOTATION = "Sleep stage 5"

#: Per-stage amplitude (µV) of a sine at each band's centre frequency.
_BAND_HZ = (2.0, 6.0, 10.0, 14.0, 22.0)
_STAGE_AMPLITUDE = {
    "W": (8.0, 6.0, 30.0, 4.0, 14.0),
    "N1": (14.0, 16.0, 10.0, 5.0, 6.0),
    "N2": (24.0, 12.0, 7.0, 14.0, 5.0),
    "N3": (60.0, 10.0, 5.0, 6.0, 3.0),
    "REM": (12.0, 18.0, 9.0, 4.0, 8.0),
}
_TEMPLATES_PER_STAGE = 24


class Hypnograms:
    """Picklable stage provider: subject id -> per-epoch annotations."""

    def __init__(self, stages: dict[int, list[str]]):
        self.stages = stages

    def __call__(self, subject_id: int, n_epochs: int) -> list[str]:
        return self.stages[subject_id][:n_epochs]


@dataclass
class EdfCohort:
    """A directory of EDF nights plus the answers the ELT must reproduce."""

    edf_dir: str
    stages: Hypnograms
    good_subjects: list[int]
    bad_subjects: list[int]
    #: epochs that must land in the features table, per good subject
    expected_epochs: dict[int, int]
    edf_bytes: int
    #: one night's EEG channels, for the driver-side band-power probe
    probe_signals: np.ndarray = field(repr=False)


def _epoch_templates(rng: np.random.Generator) -> dict[str, np.ndarray]:
    """(channels, templates, samples) waveforms per stage."""
    t = np.arange(SAMPLES_PER_EPOCH) / SFREQ
    out = {}
    for stage, amps in _STAGE_AMPLITUDE.items():
        shape = (len(CHANNELS), _TEMPLATES_PER_STAGE, SAMPLES_PER_EPOCH)
        x = rng.normal(0.0, 4.0, size=shape)
        for hz, amp in zip(_BAND_HZ, amps):
            phase = rng.uniform(0, 2 * np.pi, size=shape[:2] + (1,))
            gain = rng.uniform(0.7, 1.3, size=shape[:2] + (1,))
            x += amp * gain * np.sin(2 * np.pi * hz * t + phase)
        out[stage] = x
    return out


def make_edf_cohort(
    root: str,
    seed: int,
    n_subjects: int,
    n_bad: int,
    first_id: int = 1,
    epochs: int = 960,
) -> EdfCohort:
    """Write ``n_subjects`` EDF nights (EEG x2 + EOG) under ``root``.

    Each night is the last ``epochs`` epochs of a ``sources.seed`` day
    hypnogram (the night's sleep cycles and the morning wake), so every
    seed loads the same number of epochs; about 1% of each
    night's epochs carry movement/unscored annotations (dropped at
    ingest), and ``n_bad`` seed-chosen subjects carry a few
    out-of-contract annotations, so they must be quarantined whole.
    """
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    templates = _epoch_templates(rng)
    cohort = seed_epochs_pandas(n_subjects, seed)
    ids = list(range(first_id, first_id + n_subjects))
    bad = sorted(int(s) for s in rng.choice(ids, size=n_bad, replace=False))
    stages: dict[int, list[str]] = {}
    expected: dict[int, int] = {}
    total_bytes = 0
    probe = None
    for k, sid in enumerate(ids):
        night = cohort.loc[cohort["subject_id"] == k, "stage"].to_numpy()[-epochs:]
        n = len(night)
        ann = [ANNOTATION[s] for s in night]
        if k % 2:
            ann = [a.replace("stage 3", "stage 4") for a in ann]
        dropped = rng.choice(n, size=max(1, n // 100), replace=False)
        for i in dropped:
            ann[i] = DROPPED_ANNOTATIONS[i % 2]
        if sid in bad:
            for i in rng.choice(n, size=3, replace=False):
                ann[i] = BAD_ANNOTATION
        else:
            expected[sid] = n - len(dropped)
        stages[sid] = ann

        pick = rng.integers(0, _TEMPLATES_PER_STAGE, size=n)
        signals = []
        for c, label in enumerate(CHANNELS):
            x = np.empty((n, SAMPLES_PER_EPOCH))
            for stage, bank in templates.items():
                rows = night == stage
                x[rows] = bank[c][pick[rows]]
            signals.append((label, SFREQ, x.reshape(-1)))
        if probe is None:
            probe = np.stack([s for label, _, s in signals if "EEG" in label])
        data = write_edf(signals)
        total_bytes += len(data)
        with open(os.path.join(root, f"subject_{sid}.edf"), "wb") as fh:
            fh.write(data)
    return EdfCohort(
        edf_dir=root,
        stages=Hypnograms(stages),
        good_subjects=[s for s in ids if s not in bad],
        bad_subjects=bad,
        expected_epochs=expected,
        edf_bytes=total_bytes,
        probe_signals=probe,
    )


def write_eegless_edf(path: str, n_epochs: int = 2) -> None:
    """An EDF night with no EEG channel (respiration only)."""
    x = np.zeros(n_epochs * SAMPLES_PER_EPOCH)
    with open(path, "wb") as fh:
        fh.write(write_edf([("Resp oro-nasal", SFREQ, x)]))


# --- training corpus -------------------------------------------------------

#: English marker words the corpus quality model rewards.
_STOPWORDS = LANG_MARKERS["en"]


@dataclass
class Corpus:
    sf_dir: str
    n_docs: int
    #: stage name -> rows the build's audit must report
    expected_audit: dict[str, int]


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(4, 10))
        words.add("".join(rng.choice(letters, size=n)))
    return sorted(words - set(_STOPWORDS))


def _good_text(rng: np.random.Generator, vocab: list[str]) -> list[str]:
    """40-110 distinct content words plus every marker word."""
    n = int(rng.integers(40, 110))
    words = [vocab[i] for i in rng.choice(len(vocab), size=n, replace=False)]
    words += list(_STOPWORDS)
    rng.shuffle(words)
    return words


def make_corpus(root: str, seed: int, n_docs: int) -> Corpus:
    """Write ``root/documents.parquet`` with a known audit outcome.

    Roles, in a seed-chosen order: low-quality docs (digit runs, fail the
    quality model), exact copies and word-order shuffles (identical token
    sets, so MinHash always pairs them) of earlier unique docs, eval docs
    (ids divisible by 41), train docs that copy a 5-gram out of an eval
    doc, and clean unique docs.  Content words come from a large random
    vocabulary, so unrelated docs never pass the near-dup threshold.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 6000)
    ids = np.arange(n_docs, dtype=np.int64)
    eval_ids = [int(i) for i in ids if i % EVAL_MOD == 0]
    train_ids = [int(i) for i in ids if i % EVAL_MOD != 0]
    rng.shuffle(train_ids)

    n_train = len(train_ids)
    n_lowq = n_train // 10
    n_exact = n_train // 8
    n_near = n_train // 8
    n_contam = len(eval_ids)
    n_unique = n_train - n_lowq - n_exact - n_near - n_contam
    texts: dict[int, list[str]] = {}
    eval_words = {}
    for i in eval_ids:
        texts[i] = _good_text(rng, vocab)
        eval_words[i] = texts[i]
    pos = 0

    def take(n: int) -> list[int]:
        nonlocal pos
        out = train_ids[pos : pos + n]
        pos += n
        return out

    unique = sorted(take(n_unique))
    for i in unique:
        texts[i] = _good_text(rng, vocab)
    for i in take(n_lowq):
        n = int(rng.integers(8, 30))
        texts[i] = [str(v) for v in rng.integers(0, 10**6, size=n)]
    # a copy's survivor is the group's lowest id; the count is the same
    # whichever member survives, as every member is a non-eval doc
    for i in take(n_exact):
        texts[i] = list(texts[unique[int(rng.integers(0, len(unique)))]])
    near_sources = rng.choice(len(unique), size=n_near, replace=False)
    for i, j in zip(take(n_near), near_sources):
        words = list(texts[unique[int(j)]])
        while words == texts[unique[int(j)]]:
            rng.shuffle(words)
        texts[i] = words
    for i, e in zip(take(n_contam), eval_ids):
        words = _good_text(rng, vocab)
        src = eval_words[e]
        start = int(rng.integers(0, len(src) - DECONTAM_N))
        cut = int(rng.integers(0, len(words)))
        texts[i] = words[:cut] + src[start : start + DECONTAM_N] + words[cut:]
    assert pos == n_train

    # every dedup group keeps one member and loses the rest; eval docs
    # and the docs sharing a 5-gram with them go at decontamination,
    # which leaves exactly the unique docs
    n_quality = n_docs - n_lowq
    n_exact_dedup = n_quality - n_exact
    n_neardup = n_exact_dedup - n_near
    n_chunks = sum(-(-len(texts[i]) // CHUNK_STRIDE) for i in unique)

    order = rng.permutation(n_docs)
    doc_ids = ids[order]
    text_col = [" ".join(texts[int(i)]) for i in doc_ids]
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(text_col, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{int(i) % 20}" for i in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in text_col], pa.int64()),
        }
    )
    os.makedirs(root, exist_ok=True)
    pq.write_table(table, os.path.join(root, "documents.parquet"))
    return Corpus(
        sf_dir=root,
        n_docs=n_docs,
        expected_audit={
            "corpus_raw": n_docs,
            "corpus_quality": n_quality,
            "corpus_exact_dedup": n_exact_dedup,
            "corpus_neardup": n_neardup,
            "corpus_clean": len(unique),
            "corpus_chunks": n_chunks,
            "corpus_split": n_chunks,
        },
    )
