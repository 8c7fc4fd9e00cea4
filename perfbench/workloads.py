"""The benchmark's workloads: inputs, set-up, one timed pass, the output
check, and the prefix "floors" that split a traced pass into layers.

``flagship``  cold ``run_features_resumable`` into a fresh output dir, the
              CLI default config (global pca_whiten, p=25 -> k=8, 8 units).
``serve``     transform-only ``run_features(..., model=m)`` ->
              ``write_features`` over a second transcript set (seed + 1),
              64-dim snapshots (p=73 -> k=16); ``m`` is fitted in set-up.

A floor runs a prefix of a workload's layer chain once, on the whole input,
through a no-op sink; a layer's self time is the difference between the
floor that ends with it and the floor that ends just before it.
"""

from __future__ import annotations

import dataclasses
import shutil

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.moments import compute_moments
from featureextraction_jl_spark.functions.pca import fit_pca
from featureextraction_jl_spark.plans.checkpoint import (
    read_feature_output,
    run_features_resumable,
)
from featureextraction_jl_spark.plans.feature_job import (
    FeatureJobConfig,
    build_turn_features,
    run_features,
)
from featureextraction_jl_spark.plans.windowed_pca import fit_windowed_pca
from featureextraction_jl_spark.sources.tables import (
    read_table,
    read_transcripts,
    write_features,
)

from perfbench import inputs
from perfbench.tracing import duration

#: the CLI default unit count of jobs/run_features.py
N_UNITS = 8
#: the tumbling window of the windowed-PCA floors (CLI --window)
WINDOW = "1 day"
#: columns of the job's output besides feature_vec
OUT_COLS = ["conv_id", "turn_idx", "ts", "role", "text", "tool", "session_id"]
#: whitening-check tolerances (test_flagship_whitened_cov_identity's)
COV_RTOL, COV_ATOL, MEAN_ATOL = 1e-6, 1e-8, 1e-6
#: oracle tolerances and ridge (tests/oracle.py)
ORACLE_RTOL, ORACLE_ATOL, ORACLE_EPS = 1e-8, 1e-10, 1e-12
#: conversations the serve check compares against the oracle
ORACLE_CONVS = 16


def noop(df: DataFrame) -> None:
    """Materialize the whole plan without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def _features(df: DataFrame, k: int):
    """Collect feature_vec as numpy; None if any feature vector is NULL or
    not of length k."""
    vec = df.select("feature_vec").toArrow().column("feature_vec") \
        .combine_chunks()
    if vec.null_count or len(vec.flatten()) != len(vec) * k:
        return None
    return vec.flatten().to_numpy(zero_copy_only=False).reshape(-1, k)


def _whitened(y: np.ndarray, k: int) -> list[str]:
    problems = []
    if not np.allclose(y.mean(axis=0), 0.0, atol=MEAN_ATOL):
        problems.append(f"feature mean {np.abs(y.mean(axis=0)).max():.3g} != 0")
    cov = np.cov(y, rowvar=False, ddof=1)
    if not np.allclose(cov, np.eye(k), rtol=COV_RTOL, atol=COV_ATOL):
        problems.append(
            f"feature cov off identity by {np.abs(cov - np.eye(k)).max():.3g}")
    return problems


def _diff(f: dict, a: str, b: str) -> dict:
    """Floor ``a`` minus floor ``b``, counter by counter."""
    return {k: f[a][k] - f[b][k] for k in f[a]}


def _operators(d: dict) -> dict:
    return {"operators.self_s": d["wall_s"], "operators.cpu_s": d["cpu_s"],
            "operators.shuffle_write_bytes": d["shuffle_write_bytes"],
            "operators.spill_bytes": d["spill_bytes"],
            "operators.gc_s": d["gc_s"]}


def _moments(d: dict) -> dict:
    return {"functions.moments.self_s": d["wall_s"],
            "functions.moments.cpu_s": d["cpu_s"],
            "functions.moments.python_run_s": d["python_run_ms"] / 1e3,
            "functions.moments.python_sent_bytes": d["python_sent_bytes"],
            "functions.moments.result_bytes": d["result_bytes"]}


def _project(d: dict) -> dict:
    return {"functions.pca.project_self_s": d["wall_s"],
            "functions.pca.project_cpu_s": d["cpu_s"],
            "functions.pca.python_run_s": d["python_run_ms"] / 1e3,
            "functions.pca.python_start_s": d["python_start_ms"] / 1e3,
            "functions.pca.python_sent_bytes": d["python_sent_bytes"],
            "functions.pca.python_returned_bytes": d["python_returned_bytes"]}


class Workload:
    """Shared plumbing: inputs, set-up, warm-up and the passthrough check."""

    name = ""
    dim = 16
    k = 8
    #: untimed passes in set-up, 15-30 s of them: the JIT keeps speeding
    #: passes up for several passes, and a pass measured early on that
    #: curve varies most from run to run
    warmup_passes = 2

    def __init__(self, seed: int):
        self.seed = seed
        self.cfg = FeatureJobConfig(snap_dim=self.dim, k=self.k)
        self.model = None
        #: facts about a traced run that are not metrics (run.py logs them)
        self.info: dict = {}

    def needs(self) -> list[tuple[int, int]]:
        """The (seed, snapshot dim) of each input table set, scored one last."""
        return [(self.seed, self.dim)]

    def attach(self, spark, tables: list[dict]) -> None:
        """Bind the session and the input entries of :meth:`needs`."""
        self.spark, self.tables, self.data = spark, tables, tables[-1]

    @property
    def turns(self) -> int:
        return self.data["turns"]

    def setup(self, tmp_dir: str) -> None:
        for data in self.tables:  # the fixture presence check
            if not inputs.fixture_present(data):
                raise RuntimeError(f"input fixture missing: {data}")
        self.fit()
        self.warm_up(tmp_dir)

    def fit(self) -> None:
        """Set-up work besides the warm-up; none by default."""

    def _read(self, data: dict):
        return (read_transcripts(self.spark, data["transcripts"]),
                read_table(self.spark, data["snapshots"]))

    def warm_up(self, tmp_dir: str) -> None:
        for _ in range(self.warmup_passes):
            self.run_pass(tmp_dir)
            shutil.rmtree(tmp_dir, ignore_errors=True)

    def passthrough(self, out: DataFrame, data: dict) -> list[str]:
        """Output rows == input turns, and byte-equal text passthrough."""
        if "checksum" not in data:  # once per run, outside the timed passes
            data["checksum"] = read_transcripts(
                self.spark, data["transcripts"]).agg(
                inputs.checksum_expr()).first()[0]
        row = out.agg(F.count(F.lit(1)).alias("n"),
                      inputs.checksum_expr().alias("sum")).first()
        problems = []
        if row["n"] != data["turns"]:
            problems.append(f"{row['n']} output rows for {data['turns']} turns")
        if row["sum"] != data["checksum"]:
            problems.append("text passthrough checksum differs from input")
        return problems


class Flagship(Workload):
    """The resumable job at its CLI defaults, into a fresh output dir."""

    name = "flagship"

    def run_pass(self, out_dir: str) -> None:
        run_features_resumable(self.spark, self.data["transcripts"], out_dir,
                               snapshots_path=self.data["snapshots"],
                               cfg=self.cfg, n_units=N_UNITS)

    def traced_pass(self, tracer, out_dir: str) -> dict:
        with tracer.span("plans.checkpoint") as root:
            self.run_pass(out_dir)
        return root

    def check(self, out_dir: str) -> list[str]:
        out = read_feature_output(self.spark, out_dir)
        problems = self.passthrough(out, self.data)
        y = _features(out, self.k)
        if y is None:
            return problems + ["NULL or short feature vectors"]
        return problems + _whitened(y, self.k)

    # -- floors ------------------------------------------------------------

    def floors(self) -> list[tuple[str, object]]:
        spark_in = lambda: self._read(self.data)  # noqa: E731
        chain = lambda: build_turn_features(*spark_in(), self.cfg)  # noqa: E731
        wcfg = dataclasses.replace(self.cfg, window_duration=WINDOW)

        def scan(_):
            for df in spark_in():
                noop(df)

        def fit_moments(_):
            m = compute_moments(chain(), "raw_vec")
            self.model = fit_pca(m, k=self.k, mode=self.cfg.mode)

        def fit_windowed(_):
            self.wmodel = fit_windowed_pca(chain(), "raw_vec", "ts", WINDOW,
                                           k=self.k, mode=self.cfg.mode)

        def project(cfg, model):
            return lambda _: noop(run_features(*spark_in(), cfg, model=model())[0])

        def sink(out_dir):
            run_features(*spark_in(), self.cfg, model=self.model)[0] \
                .write.parquet(out_dir)

        return [("scan", scan),
                ("chain_fit", lambda _: noop(chain().select("ts", "raw_vec"))),
                ("wfit", fit_windowed),
                ("fit", fit_moments),
                ("chain_out", lambda _: noop(chain().select(*OUT_COLS, "raw_vec"))),
                ("wproject", project(wcfg, lambda: self.wmodel)),
                ("project", project(self.cfg, lambda: self.model)),
                ("sink", sink)]

    def fold(self, f: dict, traced: dict) -> tuple[dict, float]:
        """Per-layer metrics of one traced pass, and the seconds they cover.

        The job runs a fit pass (scan -> pruned chain -> moments, then the
        eigh) and a transform pass split into N_UNITS unit jobs (scan ->
        chain -> projection -> sink).  Each layer's self time is its floor
        difference, counted once per pass it takes part in.  The checkpoint
        layer's self time is measured on the traced pass itself: the unit
        loop's spans (each unit's plan build and sink) minus one
        whole-input transform floor, plus the root span's time outside any
        layer call (fingerprints, manifests, model save).  Whatever the
        traced fit pass takes beyond its floors stays uncovered.  The
        windowed floors measure the windowed-PCA layer on the same input;
        they are not part of the pass, so they stay out of the covered
        seconds.
        """
        spans, fspans = traced["spans"], traced["floor_spans"]
        root = spans[0]  # descendants() lists the root first
        root_self = (root["end"] - root["start"]) - sum(
            s["end"] - s["start"] for s in spans if s["parent"] == root["id"])
        unit_loop = (duration(spans, "plans.feature_job")
                     + duration(spans, "sources.sink"))
        ops = {k: f["chain_fit"][k] + f["chain_out"][k] - 2 * f["scan"][k]
               for k in f["scan"]}
        wfit = _diff(f, "wfit", "chain_fit")
        self.info["windowed_models"] = len(self.wmodel.models)
        m = {**_operators(ops),
             **_moments(_diff(f, "fit", "chain_fit")),
             **_project(_diff(f, "project", "chain_out")),
             "sources.scan.self_s": 2 * f["scan"]["wall_s"],
             "functions.pca.fit_s": duration(spans, "functions.pca.fit"),
             "plans.windowed_pca.fit_self_s": (
                 wfit["wall_s"] - duration(fspans["wfit"], "functions.pca.fit")),
             "plans.windowed_pca.shuffle_write_bytes": wfit["shuffle_write_bytes"],
             "plans.windowed_pca.project_self_s": (
                 f["wproject"]["wall_s"] - f["chain_out"]["wall_s"]),
             "sources.sink.self_s": f["sink"]["wall_s"] - f["project"]["wall_s"],
             "plans.checkpoint.self_s": unit_loop - f["sink"]["wall_s"] + root_self,
             "plans.checkpoint.spark_jobs": traced["counters"].get("jobs", 0)}
        covered = sum(m[k] for k in (
            "sources.scan.self_s", "operators.self_s", "functions.moments.self_s",
            "functions.pca.fit_s", "functions.pca.project_self_s",
            "sources.sink.self_s", "plans.checkpoint.self_s"))
        return m, covered


class Serve(Workload):
    """Transform-only scoring of seed+1's transcripts with a model fitted
    in set-up on seed's."""

    name = "serve"
    dim = 64
    k = 16
    warmup_passes = 5
    _sample = None

    def needs(self) -> list[tuple[int, int]]:
        return [(self.seed, self.dim), (self.seed + 1, self.dim)]

    def fit(self) -> None:
        _, self.model = run_features(*self._read(self.tables[0]), self.cfg)

    def run_pass(self, out_dir: str) -> None:
        out, _ = run_features(*self._read(self.data), self.cfg,
                              model=self.model)
        write_features(out, out_dir)

    def traced_pass(self, tracer, out_dir: str) -> dict:
        with tracer.span("serve") as root:
            with tracer.span("plans.feature_job"):
                out, _ = run_features(*self._read(self.data), self.cfg,
                                      model=self.model)
            write_features(out, out_dir)
        return root

    def check(self, out_dir: str) -> list[str]:
        out = self.spark.read.parquet(out_dir)
        problems = self.passthrough(out, self.data)
        # a fixed sample of conversations against the NumPy oracle
        # (tests/oracle.py pca_whiten_project); raw vectors from the same
        # chain on the sampled conversations only — every operator is
        # per-conversation, so the sample's vectors equal the full run's
        if self._sample is None:  # the same input every pass: build once
            t, s = self._read(self.data)
            ids = [r["conv_id"] for r in t.select("conv_id").distinct()
                   .orderBy(F.xxhash64("conv_id")).limit(ORACLE_CONVS)
                   .collect()]
            keep = F.col("conv_id").isin(ids)
            self._sample = (keep, build_turn_features(
                t.filter(keep), s.filter(keep), self.cfg)
                .select("conv_id", "turn_idx", "raw_vec").toPandas())
        keep, raw = self._sample
        got = out.filter(keep).select("conv_id", "turn_idx",
                                      "feature_vec").toPandas()
        both = raw.merge(got, on=["conv_id", "turn_idx"], how="outer")
        if both.isna().any().any() or len(both) != len(raw):
            return problems + ["sampled rows missing or NULL in the output"]
        x = np.stack(both["raw_vec"].to_numpy())
        y = np.stack(both["feature_vec"].to_numpy())
        m = self.model
        want = (x - m.mu) @ (m.components / np.sqrt(m.eigenvalues + ORACLE_EPS))
        if not np.allclose(y, want, rtol=ORACLE_RTOL, atol=ORACLE_ATOL):
            problems.append(f"sampled features differ from the oracle by "
                            f"{np.abs(y - want).max():.3g}")
        return problems

    def floors(self) -> list[tuple[str, object]]:
        spark_in = lambda: self._read(self.data)  # noqa: E731
        chain = lambda: build_turn_features(*spark_in(), self.cfg)  # noqa: E731
        features = lambda: run_features(  # noqa: E731
            *spark_in(), self.cfg, model=self.model)[0]

        def scan(_):
            for df in spark_in():
                noop(df)

        return [("scan", scan),
                ("chain_out", lambda _: noop(chain().select(*OUT_COLS, "raw_vec"))),
                ("project", lambda _: noop(features())),
                ("sink", lambda out_dir: write_features(features(), out_dir))]

    def fold(self, f: dict, traced: dict) -> tuple[dict, float]:
        """One transform pass: scan -> chain -> projection -> sink."""
        m = {**_operators(_diff(f, "chain_out", "scan")),
             **_project(_diff(f, "project", "chain_out")),
             "sources.scan.self_s": f["scan"]["wall_s"],
             "sources.sink.self_s": f["sink"]["wall_s"] - f["project"]["wall_s"]}
        return m, f["sink"]["wall_s"]


WORKLOADS = {w.name: w for w in (Flagship, Serve)}
