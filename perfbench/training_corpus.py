"""training_corpus: ``plans.corpus_pipeline.build_corpus`` over a seeded corpus.

The corpus is generated with a known audit outcome (see
``inputs.make_corpus``): every build's audit must report the expected
row count for each stage, and the exported JSONL shards must hold
exactly the ``corpus_split`` rows.  The sleep layers do no work here,
so this workload is the bypass for ELT and serving changes; it shares
``plans.runner`` and ``quality`` with ``sleep_service``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from sleep_edf_data_pipeline_spark.plans.corpus_pipeline import build_corpus

from . import inputs
from .env import quiesce
from .trace import Tracer


@dataclass(frozen=True)
class Sizes:
    docs: int
    warmup_docs: int


FULL = Sizes(docs=300, warmup_docs=40)
TINY = Sizes(docs=60, warmup_docs=30)


@dataclass
class Record:
    build_s: list[float] = field(default_factory=list)
    docs: int = 0
    attempted: int = 0
    failed: int = 0
    shard_bytes: list[int] = field(default_factory=list)
    kept_frac: list[float] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"[training_corpus] FAILED {what}", file=sys.stderr)


def _shards(out_dir: str) -> list[str]:
    root = os.path.join(out_dir, "shards")
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".json")
    ]


class Workload:
    name = "training_corpus"

    def __init__(self, work: str, seed: int, sizes: Sizes) -> None:
        self.work = work
        root = os.path.join(work, "inputs")
        self.corpus = inputs.make_corpus(os.path.join(root, "corpus"), seed, sizes.docs)
        self.warmup = inputs.make_corpus(os.path.join(root, "warmup"), seed + 1, sizes.warmup_docs)
        self.builds = 0

    def stage_inputs(self, spark) -> None:
        """The corpus is plain parquet; nothing to stage through Spark."""

    def setup(self, spark) -> None:
        """Nothing beyond the session: a corpus build is a batch job that
        starts in a fresh session, so the timed build runs cold."""
        self.spark = spark

    def warm_up_load(self) -> None:
        """A build over a small corpus (traced runs only, so that the
        untraced and traced builds both run warm)."""
        rec = Record()
        self._build(rec, self.warmup, None)
        if rec.failed:
            raise RuntimeError("warm-up build failed")

    def _build(self, rec: Record, corpus: inputs.Corpus, tracer: Tracer | None) -> None:
        """One build, checked against the corpus's known audit."""
        rec.attempted += 1
        self.builds += 1
        out = os.path.join(self.work, f"out{self.builds}")
        quiesce(self.spark)
        t0 = time.perf_counter()
        try:
            if tracer:
                with tracer.span("plans.corpus_build", tracer.new_op()):
                    audit, _ = build_corpus(self.spark, corpus.sf_dir, out)
            else:
                audit, _ = build_corpus(self.spark, corpus.sf_dir, out)
            wall = time.perf_counter() - t0
            print(f"[training_corpus] build {wall:.2f} s", file=sys.stderr)
            rows = {r["stage"]: r["rows"] for r in audit.collect()}
        except Exception:
            traceback.print_exc()
            rec.fail("build_corpus raised")
            return
        shards = _shards(out)
        shard_rows = 0
        for path in shards:
            with open(path, "rb") as fh:
                shard_rows += sum(1 for _ in fh)
        if rows != corpus.expected_audit:
            rec.fail(f"audit {rows} != expected {corpus.expected_audit}")
        elif shard_rows != rows["corpus_split"]:
            rec.fail(f"shards hold {shard_rows} rows, corpus_split {rows['corpus_split']}")
        else:
            rec.build_s.append(wall)
            rec.docs = corpus.n_docs
            rec.shard_bytes.append(sum(os.path.getsize(p) for p in shards))
            rec.kept_frac.append(rows["corpus_split"] / rows["corpus_raw"])
        shutil.rmtree(out, ignore_errors=True)

    def timed(self, seconds: float, rec: Record) -> None:
        """Builds until ``seconds`` have passed (the first always runs whole)."""
        deadline = time.perf_counter() + seconds
        while True:
            self._build(rec, self.corpus, None)
            if time.perf_counter() >= deadline:
                return

    def fixed(self, rec: Record, tracer: Tracer | None = None) -> None:
        """One build, traced when ``tracer`` is given."""
        self._build(rec, self.corpus, tracer)

    def check(self, spark, recs: list[Record]) -> int:
        """Every build is checked as it finishes; nothing is left to check."""
        return 0

    def probes(self, spark, tracer: Tracer) -> dict[str, float]:
        return {}
