"""sleep_service: the nightly EDF ELT feeding the clinician dashboard.

One closed-loop client alternates two kinds of work against a staged
cohort (seeded epochs from ``sources.seed``):

* a nightly load: new EDF nights -> ``read_edf_epochs`` ->
  ``validate_split`` (whole-subject quarantine) -> ``write_epochs`` into
  the cohort -> dashboard reads until every new subject shows in both
  serving marts (``marts.serve`` rebuilds them) -> ``ModelRunner`` over
  ``plans.sleep_pipeline`` (staging view with contract checks, cached
  metrics, summary + features tables);
* Zipf-skewed dashboard reads: a per-subject summary lookup (most
  reads) or an epoch timeseries, each served through ``marts.serve``
  the way ``queries/serving.py`` serves them.

Every read is checked afterwards against the recompute path
(``sp.summary`` / ``sp.metrics`` over the final cohort); every load is
checked against the answers the input generator knows.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from sleep_edf_data_pipeline_spark import marts
from sleep_edf_data_pipeline_spark.functions.bandpower import epoch_band_powers
from sleep_edf_data_pipeline_spark.plans import sleep_pipeline as sp
from sleep_edf_data_pipeline_spark.plans.runner import Model, ModelRunner
from sleep_edf_data_pipeline_spark.quality.validate import (
    epoch_contract_checks,
    validate_split,
)
from sleep_edf_data_pipeline_spark.schema import EPOCH_SCHEMA
from sleep_edf_data_pipeline_spark.sources.edf import (
    cyclic_demo_stages,
    read_edf_epochs,
)
from sleep_edf_data_pipeline_spark.sources.seed import seed_epochs_pandas
from sleep_edf_data_pipeline_spark.tables import table_fingerprint
from sleep_edf_data_pipeline_spark.writers.atomic import read_epochs, write_epochs
from sleep_edf_data_pipeline_spark.writers.layout import scan_rows_read

from . import inputs
from .env import quiesce
from .trace import Span, Tracer, delta

TABLE = "epochs"
#: Reads come in blocks of four summary lookups and one timeseries, in
#: a seeded order, so every seed issues the same mix.
READ_BLOCK = ("lookup",) * 4 + ("timeseries",)
ZIPF_S = 1.1
VISIBLE_TIMEOUT_S = 120.0
WARMUP_READS = 10
#: A timed run uses the first load; a traced run uses both.
LOADS = 2


@dataclass(frozen=True)
class Sizes:
    cohort_subjects: int
    #: nights per load, one of them out of contract
    nights_per_load: int
    reads_per_cycle: int
    night_epochs: int
    #: epochs per warm-up night (warm-up nights are short)
    warmup_epochs: int


FULL = Sizes(
    cohort_subjects=12,
    nights_per_load=3,
    reads_per_cycle=40,
    night_epochs=960,
    warmup_epochs=240,
)
TINY = Sizes(
    cohort_subjects=3,
    nights_per_load=2,
    reads_per_cycle=5,
    night_epochs=240,
    warmup_epochs=120,
)


@dataclass
class Inputs:
    #: epoch rows (EPOCH_SCHEMA) of the pre-staged cohort
    base: pd.DataFrame
    loads: list[inputs.EdfCohort]
    warmup: inputs.EdfCohort
    corrupt_dir: str


def make_inputs(root: str, seed: int, sizes: Sizes) -> Inputs:
    base = seed_epochs_pandas(sizes.cohort_subjects, seed)
    loads = [
        inputs.make_edf_cohort(
            os.path.join(root, f"load{i}"),
            seed * 1000 + i,
            sizes.nights_per_load,
            1,
            first_id=1000 + 100 * i,
            epochs=sizes.night_epochs,
        )
        for i in range(LOADS)
    ]
    warmup = inputs.make_edf_cohort(
        os.path.join(root, "warmup"),
        seed * 1000 + 999,
        2,
        1,
        first_id=900,
        epochs=sizes.warmup_epochs,
    )
    # three good nights and one without any EEG channel
    corrupt_dir = os.path.join(root, "corrupt")
    os.makedirs(corrupt_dir)
    for sid in (1, 2, 3):
        shutil.copy(
            os.path.join(warmup.edf_dir, f"subject_{warmup.good_subjects[0]}.edf"),
            os.path.join(corrupt_dir, f"subject_{sid}.edf"),
        )
    inputs.write_eegless_edf(os.path.join(corrupt_dir, "subject_4.edf"))
    return Inputs(base=base, loads=loads, warmup=warmup, corrupt_dir=corrupt_dir)


# --- the system under test, driven through its public functions ---------


class Cohort:
    """A staged epoch table with its serving marts and nightly marts."""

    def __init__(self, spark, root: str) -> None:
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, f"{TABLE}.parquet")
        self.warehouse = os.path.join(root, "nightly")

    def stage(self, df) -> None:
        write_epochs(df, self.path)

    def summary_mart(self):
        return marts.serve(
            self.spark,
            self.root,
            "sleep_summary",
            TABLE,
            lambda: sp.summary(sp.metrics(sp.staging(read_epochs(self.spark, self.path)))),
            cluster_cols=["subject_id"],
            n_files=1,
        )

    def metrics_mart(self):
        return marts.serve(
            self.spark,
            self.root,
            "sleep_metrics",
            TABLE,
            lambda: sp.metrics(sp.staging(read_epochs(self.spark, self.path))),
            cluster_cols=["subject_id", "epoch_idx"],
            n_files=4,
        )

    @staticmethod
    def lookup_frame(mart, sid: int):
        return mart.filter(F.col("subject_id") == sid)

    @staticmethod
    def timeseries_frame(mart, sid: int):
        return (
            mart.filter(F.col("subject_id") == sid)
            .select(
                "epoch_idx",
                "sleep_stage",
                F.round("delta_moving_avg", 6).alias("delta_moving_avg"),
                "is_in_sleep_period",
            )
            .orderBy("epoch_idx")
        )

    def read(self, kind: str, sid: int) -> list[tuple]:
        if kind == "lookup":
            df = self.lookup_frame(self.summary_mart(), sid)
        else:
            df = self.timeseries_frame(self.metrics_mart(), sid)
        return [tuple(r) for r in df.collect()]

    def nightly_models(self) -> tuple[ModelRunner, list[Model]]:
        runner = ModelRunner(self.spark, self.warehouse)
        b = runner.built
        models = [
            Model(
                "staging",
                lambda s: sp.staging(read_epochs(s, self.path)),
                checks=epoch_contract_checks(),
                unique_keys=(("epoch_id",),),
            ),
            Model("metrics", lambda s: sp.metrics(b["staging"]), "cached", depends_on=("staging",)),
            Model("summary", lambda s: sp.summary(b["metrics"]), "table", depends_on=("metrics",)),
            Model("features", lambda s: sp.features(b["metrics"]), "table", depends_on=("metrics",)),
        ]
        return runner, models


# --- the closed-loop client ----------------------------------------------


@dataclass
class Read:
    kind: str
    sid: int
    seconds: float
    rows: list[tuple]
    #: issued while waiting for a nightly load to show (may rebuild a mart)
    refresh: bool


@dataclass
class Record:
    """Everything one pass observed, for the metrics and the checks."""

    reads: list[Read] = field(default_factory=list)
    load_s: list[float] = field(default_factory=list)
    load_epochs: list[int] = field(default_factory=list)
    refresh_s: list[float] = field(default_factory=list)
    quarantined: list[tuple[list[int], list[int]]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    loaded_good: list[int] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"[sleep_service] FAILED {what}", file=sys.stderr)


class Client:
    def __init__(self, spark, cohort: Cohort, base_subjects: list[int], seed: int,
                 tracer: Tracer | None = None) -> None:
        self.spark = spark
        self.cohort = cohort
        self.subjects = list(base_subjects)
        self.rng = np.random.default_rng([seed, 7])
        self.tracer = tracer
        self.kinds: list[str] = []
        self._reorder()

    def _reorder(self) -> None:
        order = list(self.rng.permutation(self.subjects))
        ranks = np.arange(1, len(order) + 1, dtype=float)
        p = ranks**-ZIPF_S
        self.order, self.p = order, p / p.sum()

    def next_read(self) -> tuple[str, int]:
        if not self.kinds:
            self.kinds = list(self.rng.permutation(READ_BLOCK))
        sid = int(self.order[self.rng.choice(len(self.order), p=self.p)])
        return str(self.kinds.pop()), sid

    # -- reads --

    def read(self, rec: Record, kind: str, sid: int, refresh: bool = False) -> list[tuple] | None:
        rec.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer:
                rows = self._traced_read(kind, sid, refresh)
            else:
                rows = self.cohort.read(kind, sid)
        except Exception:
            traceback.print_exc()
            rec.fail(f"{kind} read of subject {sid}")
            return None
        rec.reads.append(Read(kind, sid, time.perf_counter() - t0, rows, refresh))
        return rows

    def _traced_read(self, kind: str, sid: int, refresh: bool) -> list[tuple]:
        tr = self.tracer
        op = tr.new_op()
        mart_root = marts.MART_ROOT
        with tr.span("serve.read", op, kind=kind, refresh=refresh):
            with tr.span("tables.fingerprint", op, counted=False):
                table_fingerprint(self.cohort.root, TABLE)
            before = _mart_dirs(mart_root)
            with tr.span("marts.serve", op, counted=False) as serve_span:
                mart = self.cohort.summary_mart() if kind == "lookup" else self.cohort.metrics_mart()
            serve_span.attrs["rebuilt"] = _mart_dirs(mart_root) != before
            if kind == "lookup":
                df = Cohort.lookup_frame(mart, sid)
            else:
                df = Cohort.timeseries_frame(mart, sid)
            with tr.span("serve.collect", op, counted=False):
                return [tuple(r) for r in df.collect()]

    # -- the nightly load --

    def load(self, rec: Record, night: inputs.EdfCohort) -> None:
        rec.attempted += 2  # the load and the dashboard refresh it ends with
        tr = self.tracer
        op = tr.new_op() if tr else 0
        t0 = time.perf_counter()
        try:
            with _maybe(tr, "sleep.load", op):
                with _maybe(tr, "sources.extract", op) as sx:
                    extracted = read_edf_epochs(self.spark, night.edf_dir, night.stages).persist()
                    if tr:
                        sx.attrs["epochs_out"] = extracted.count()
                        sx.attrs["edf_bytes"] = night.edf_bytes
                with _maybe(tr, "quality.validate", op):
                    valid, quarantine = validate_split(extracted)
                    bad = sorted(r[0] for r in quarantine.select("subject_id").distinct().collect())
                    if tr:
                        valid.count()
                with _maybe(tr, "writers.stage_write", op) as sw:
                    t_append = time.perf_counter()
                    self.cohort.stage(valid)
                    if tr:
                        sw.attrs["bytes"] = _partition_bytes(self.cohort.path, night.good_subjects)
                        sw.attrs["epochs"] = sum(night.expected_epochs.values())
                extracted.unpersist()
                rec.quarantined.append((bad, night.bad_subjects))
                with _maybe(tr, "serve.refresh", op):
                    refreshed = self._wait_visible(rec, night.good_subjects)
                t_visible = time.perf_counter()
                self._run_nightly_models(op)
        except Exception:
            traceback.print_exc()
            rec.fail(f"nightly load of {night.edf_dir}")
            rec.failed += 1  # its refresh did not happen either
            return
        if not refreshed:
            rec.fail(f"refresh: subjects {night.good_subjects} never showed")
        else:
            rec.refresh_s.append(t_visible - t_append)
        rec.load_s.append(time.perf_counter() - t0)
        print(
            f"[sleep_service] load {rec.load_s[-1]:.2f} s (refresh {t_visible - t_append:.2f} s)",
            file=sys.stderr,
        )
        rec.load_epochs.append(sum(night.expected_epochs.values()))
        rec.loaded_good += night.good_subjects
        self.subjects += night.good_subjects
        self._reorder()

    def _wait_visible(self, rec: Record, sids: list[int]) -> bool:
        deadline = time.perf_counter() + VISIBLE_TIMEOUT_S
        pending = [(k, s) for s in sids for k in ("lookup", "timeseries")]
        while pending and time.perf_counter() < deadline:
            kind, sid = pending[0]
            rows = self.read(rec, kind, sid, refresh=True)
            if rows:
                pending.pop(0)
        return not pending

    def _run_nightly_models(self, op: int) -> None:
        runner, models = self.cohort.nightly_models()
        tr = self.tracer
        if tr:
            # one span per model, from its build call to the next one's;
            # the metrics chain is forced inside its own span
            marks: list[tuple[str, float, dict]] = []

            def wrap(m: Model) -> Model:
                def build(s, _m=m):
                    marks.append((_m.name, time.perf_counter(), tr.counters.read()))
                    df = _m.build(s)
                    if _m.name == "metrics":
                        df = df.persist()
                        df.count()
                    return df

                return Model(m.name, build, m.materialization, m.checks, m.unique_keys, m.depends_on)

            models = [wrap(m) for m in models]
            runner.run(models)
            marks.append(("end", time.perf_counter(), tr.counters.read()))
            parent = tr._stack[-1] if tr._stack else None
            for (name, start, c0), (_, end, c1) in zip(marks, marks[1:]):
                tr.spans.append(Span(f"plans.{name}", op, parent, start, end, delta(c1, c0)))
        else:
            runner.run(models)
        runner.built["metrics"].unpersist()


class _NullSpan:
    def __init__(self) -> None:
        self.attrs: dict = {}


class _maybe:
    """``tracer.span(...)`` when tracing, a no-op context otherwise."""

    def __init__(self, tracer: Tracer | None, name: str, op: int) -> None:
        self.cm = tracer.span(name, op) if tracer else None

    def __enter__(self):
        return self.cm.__enter__() if self.cm else _NullSpan()

    def __exit__(self, *exc):
        return self.cm.__exit__(*exc) if self.cm else False


def _mart_dirs(root: str) -> int:
    try:
        return sum(len(os.listdir(os.path.join(root, d))) for d in os.listdir(root))
    except FileNotFoundError:
        return 0


def _partition_bytes(table_path: str, sids: list[int]) -> int:
    total = 0
    for sid in sids:
        d = os.path.join(table_path, f"subject_id={sid}")
        for fn in os.listdir(d):
            if not fn.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, fn))
    return total


# --- setup, passes and checks --------------------------------------------


class Workload:
    name = "sleep_service"

    def __init__(self, work: str, seed: int, sizes: Sizes) -> None:
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.inputs = make_inputs(os.path.join(work, "inputs"), seed, sizes)
        self.next_load = 0

    def stage_inputs(self, spark) -> None:
        """Stage the base cohort once (input generation, not set-up)."""
        self.cohort = Cohort(spark, os.path.join(self.work, "cohort"))
        if not os.path.exists(self.cohort.path):
            self.cohort.stage(spark.createDataFrame(self.inputs.base, EPOCH_SCHEMA))

    def setup(self, spark) -> None:
        """The initial build of both serving marts, then a warm-up pass of
        dashboard reads.  The nightly load is a batch job that starts in
        a fresh session every night, so the timed load runs cold."""
        marts.clear_marts()
        self.spark = spark
        t0 = time.perf_counter()
        self.cohort = Cohort(spark, os.path.join(self.work, "cohort"))
        self.cohort.summary_mart()
        self.cohort.metrics_mart()
        t1 = time.perf_counter()
        rec = Record()
        base = sorted(int(s) for s in self.inputs.base["subject_id"].unique())
        self.client = Client(spark, self.cohort, base, self.seed)
        for _ in range(WARMUP_READS):
            self.client.read(rec, *self.client.next_read())
        if rec.failed:
            raise RuntimeError("warm-up reads failed")
        print(
            f"[sleep_service] initial marts {t1 - t0:.2f} s, "
            f"warm-up reads {time.perf_counter() - t1:.2f} s",
            file=sys.stderr,
        )

    def warm_up_load(self) -> None:
        """A short nightly load into a scratch cohort (traced runs only,
        so that the untraced and traced loads both run warm)."""
        warm = Cohort(self.spark, os.path.join(self.work, "warmup-cohort"))
        rec = Record()
        Client(self.spark, warm, [], self.seed).load(rec, self.inputs.warmup)
        if rec.failed:
            raise RuntimeError("warm-up load failed")

    def timed(self, seconds: float, rec: Record, cycles: int | None = None) -> None:
        """Cycles of (nightly load, reads): exactly ``cycles`` of them, or
        as many as start within ``seconds`` (the first always runs whole)."""
        client = self.client
        deadline = time.perf_counter() + seconds
        done = 0
        while cycles is None or done < cycles:
            if self.next_load < len(self.inputs.loads):
                quiesce(self.spark)
                client.load(rec, self.inputs.loads[self.next_load])
                self.next_load += 1
            quiesce(self.spark)
            for _ in range(self.sizes.reads_per_cycle):
                if cycles is None and done and time.perf_counter() >= deadline:
                    return
                client.read(rec, *client.next_read())
            done += 1
            if cycles is None and time.perf_counter() >= deadline:
                return

    def fixed(self, rec: Record, tracer: Tracer | None = None) -> None:
        """One cycle, traced when ``tracer`` is given."""
        self.client.tracer = tracer
        self.timed(0, rec, cycles=1)

    def probes(self, spark, tracer: Tracer) -> dict[str, float]:
        """Driver-side, layout and fault probes, outside any timed loop."""
        sample = sorted(int(s) for s in self.inputs.base["subject_id"].unique())[:4]
        scanned = [
            scan_rows_read(spark, Cohort.lookup_frame(self.cohort.summary_mart(), sid))
            for sid in sample
        ]
        night = self.inputs.loads[0].probe_signals
        reps = 3
        t0 = time.perf_counter()
        for _ in range(reps):
            powers = epoch_band_powers(night, inputs.SFREQ)
        us = (time.perf_counter() - t0) / reps / powers.shape[0] * 1e6
        aborts = 0
        op = tracer.new_op()
        with tracer.span("sources.corrupt_probe", op):
            try:
                read_edf_epochs(spark, self.inputs.corrupt_dir, cyclic_demo_stages).count()
            except Exception as exc:  # the known defect: one bad file aborts the job
                aborts = 1
                print(f"[sleep_service] corrupt-file probe: load aborted ({type(exc).__name__})",
                      file=sys.stderr)
        return {
            "functions.bandpower_us_per_epoch": us,
            "sources.corrupt_file_aborts_load": aborts,
            # a lookup returns one row
            "writers.rows_read_per_row": sum(scanned) / len(scanned),
        }

    def check(self, spark, recs: list[Record]) -> int:
        """Check loads and every read; returns the number of wrong answers."""
        wrong = 0
        quarantined = [q for rec in recs for q in rec.quarantined]
        loaded_good = [s for rec in recs for s in rec.loaded_good]
        loaded_epochs = sum(n for rec in recs for n in rec.load_epochs)
        for got, want in quarantined:
            if got != sorted(want):
                print(f"[sleep_service] quarantined {got}, seeded bad {want}", file=sys.stderr)
                wrong += 1
        good = sorted(set(int(s) for s in self.inputs.base["subject_id"]) | set(loaded_good))
        want_epochs = len(self.inputs.base) + loaded_epochs
        wh = self.cohort.warehouse
        if loaded_good:
            summary = spark.read.parquet(os.path.join(wh, "summary")).collect()
            n_features = spark.read.parquet(os.path.join(wh, "features")).count()
            if sorted(r["subject_id"] for r in summary) != good:
                print("[sleep_service] summary table subjects differ from the good subjects",
                      file=sys.stderr)
                wrong += 1
            if n_features != want_epochs:
                print(f"[sleep_service] features rows {n_features} != {want_epochs}",
                      file=sys.stderr)
                wrong += 1
            wrong += sum(not _v5_ok(r) for r in summary)

        metrics = sp.metrics(sp.staging(read_epochs(spark, self.cohort.path)))
        ref_summary = {r["subject_id"]: [tuple(r)] for r in sp.summary(metrics).collect()}
        ref_ts: dict[int, list[tuple]] = {}
        for r in metrics.select(
            "subject_id",
            "epoch_idx",
            "sleep_stage",
            F.round("delta_moving_avg", 6).alias("delta_moving_avg"),
            "is_in_sleep_period",
        ).collect():
            ref_ts.setdefault(r[0], []).append(tuple(r)[1:])
        for rows in ref_ts.values():
            rows.sort()
        for read in (r for rec in recs for r in rec.reads):
            ref = ref_summary if read.kind == "lookup" else ref_ts
            if not _rows_equal(read.rows, ref.get(read.sid)):
                print(
                    f"[sleep_service] {read.kind} of subject {read.sid} differs "
                    "from the recompute path",
                    file=sys.stderr,
                )
                wrong += 1
        return wrong


def _v5_ok(r) -> bool:
    pct = sum(r[c] or 0.0 for c in ("deep_sleep_percentage", "light_sleep_percentage",
                                     "rem_sleep_percentage"))
    eff = r["sleep_efficiency"]
    return (
        abs(pct - 1.0) <= 1e-4
        and r["total_sleep_minutes"] <= r["sleep_period_minutes"]
        and eff is not None
        and 0.0 <= eff <= 1.0
    )


def _rows_equal(got: list[tuple], want: list[tuple] | None) -> bool:
    if want is None or len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True

