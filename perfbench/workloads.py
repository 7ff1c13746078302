"""The three workloads: their ops, inputs and output checks.

An op is one registry query or one pipeline stage. ``Op.build`` returns
either a DataFrame, which the harness materializes through ``digest``,
or an already-computed Python value. Each workload lists its ops; the
harness runs them in that order, one pass after another, and times
each one.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import types
from dataclasses import dataclass
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

# Data variants: the inputs are generated from ``seed % N_VARIANTS`` and
# the expected digests of every variant are stored in expected.json.
N_VARIANTS = 4

QUERY_MIX = [
    # short, fixed-cost bound
    "q01_pricing_summary", "q58_interval_join", "q73_cosine_topk_arrow",
    "q235_soundex_blocking",
    # execution heavy
    "q13_delta_t", "q241_item_cf",
    # eager iterative graph queries
    "q97_pagerank", "q194_bfs_hops",
]

LAKEHOUSE_DML = [
    "q375_delta_merge",                # write + MERGE
    "q386_delta_delete_where",         # delete-where, DV and copy-on-write routing, CDF read
    "q404_uniform_mirror",             # Delta -> Iceberg metadata mirror
    "q232_exactly_once_sink",          # idempotent stream sink with replayed batches
]

# Table that lakehouse_dml's re-run op reads back: the delete-where
# table, whose state mixes deletion vectors and rewritten files.
LAKEHOUSE_RERUN_TABLE = "spark_graft_delwhere_"


@dataclass
class Op:
    name: str
    build: Callable[[], object]
    # ``digest`` options: significant digits kept for floating columns
    # (None = exact bits), or a custom check that raises on bad output
    float_digits: int | None = None
    check: Callable[[object], None] | None = None


# Input size per workload: the registry tables' scale factor, or the
# beta scan's trigger count. "tiny" is the self-test's scale.
SCALES = {
    "full": {"query_mix": 0.005, "lakehouse_dml": 0.001, "beta_scan": 600},
    "tiny": {"query_mix": 0.001, "lakehouse_dml": 0.001, "beta_scan": 300},
}
# the registry tables behind beta_scan's warm query
WARM_SF = 0.001


# -- output digests ---------------------------------------------------------------


def digest(df, float_digits: int | None = None) -> tuple[int, str]:
    """(row count, order-insensitive value digest) of a DataFrame.

    One Spark job computes both: every row is hashed over all its
    columns (so nothing can be pruned) and the hashes are summed as an
    exact decimal, which makes the digest independent of row order and
    partitioning. ``float_digits`` rounds floating columns to that many
    significant digits first, for outputs whose last bits depend on the
    order of a floating-point reduction."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col("`" + f.name.replace("`", "``") + "`")
        if float_digits is not None and isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.format_string(f"%.{float_digits - 1}e", c.cast("double"))
        elif "map<" in f.dataType.simpleString():
            c = F.to_json(c)
        cols.append(c)
    if not cols:
        return int(df.count()), "0"
    row = (
        df.select(F.xxhash64(*cols).alias("_h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_h").cast("decimal(38,0)")).alias("s"),
        )
        .collect()[0]
    )
    n = int(row["n"])
    return n, hashlib.sha1(f"{n}:{row['s']}".encode()).hexdigest()[:16]


def value_digest(value) -> tuple[int, str]:
    """Digest of a Python value an op computed itself (stable JSON)."""
    text = json.dumps(value, sort_keys=True, default=str)
    rows = len(value) if isinstance(value, (list, dict)) else 1
    return rows, hashlib.sha1(text.encode()).hexdigest()[:16]


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


# -- scratch paths -------------------------------------------------------------------

_TMP_PREFIX = "/tmp/spark_graft_"
LAKE_DIR = "lake"  # under the run's work directory


def relocate_scratch_paths(modules, new_root: str) -> int:
    """Point the plan functions' hard-coded ``/tmp/spark_graft_*`` table
    paths at ``new_root``, so the lakehouse queries read and write inside
    the benchmark's work directory. Only string constants with that
    prefix change (in the function's code object and nested ones); the
    queries' logic is untouched. Returns the number of functions
    changed."""
    prefix = os.path.join(new_root, "spark_graft_")

    def rewrite(code: types.CodeType) -> types.CodeType:
        consts = tuple(
            rewrite(c) if isinstance(c, types.CodeType)
            else c.replace(_TMP_PREFIX, prefix)
            if isinstance(c, str) and _TMP_PREFIX in c else c
            for c in code.co_consts
        )
        return code.replace(co_consts=consts) if consts != code.co_consts else code

    changed = 0
    for mod in modules:
        for obj in vars(mod).values():
            if isinstance(obj, types.FunctionType) and obj.__module__ == mod.__name__:
                new = rewrite(obj.__code__)
                if new is not obj.__code__:
                    obj.__code__ = new
                    changed += 1
    return changed


# -- workloads -------------------------------------------------------------------------


class RegistryWorkload:
    """A fixed list of registry queries over generated tables."""

    fits_total = fits_converged = 0
    # untimed passes before the timed ones (untraced runs only)
    warmup_passes = 0

    def __init__(self, names: list[str], rerun_name: str | None = None):
        self.names = names
        self.rerun_name = rerun_name

    def prepare(self, spark, data_dir: str, work_dir: str) -> None:
        from etl_market_survey_spark.plans import registry

        self.spark, self.data_dir, self.work_dir = spark, data_dir, work_dir
        self.queries = registry.QUERIES

    def _query_op(self, name: str, timed_build) -> Op:
        fn = self.queries[name]
        return Op(name, lambda: timed_build(fn, self.spark, self.data_dir))

    def pass_ops(self, timed_build) -> list[Op]:
        return [self._query_op(name, timed_build) for name in self.names]

    def rerun_op(self, timed_build) -> Op:
        return self._query_op(self.rerun_name, timed_build)

    def finish_pass(self) -> None:
        pass

    def checkpoint_bytes(self) -> int:
        return 0


class LakehouseWorkload(RegistryWorkload):
    # The ops' first run in a fresh JVM is mostly class loading and JIT
    # of the Delta/Iceberg code paths (q386: 8-10 s cold, about 4 s
    # warm), and a single cold sample of it spread past a quarter of
    # its median from run to run. One untimed pass first: the timed
    # pass measures the lakehouse work, not the JVM warming up.
    warmup_passes = 1

    def rerun_op(self, timed_build) -> Op:
        """Read back the delete-where table the pass left behind."""
        from etl_market_survey_spark.sources import deltalog

        tag = hashlib.md5(self.data_dir.encode()).hexdigest()[:10]
        path = os.path.join(self.work_dir, LAKE_DIR, f"{LAKEHOUSE_RERUN_TABLE}{tag}")
        return Op(
            "read_delta:delete_where_table",
            lambda: timed_build(deltalog.read_delta, self.spark, path),
        )


class BetaScanWorkload:
    """The paper's beta-scan pipeline, stage for stage as in
    examples/beta_scan_pipeline.py, over a generated Feather scan."""

    warmup_passes = 0
    STAGES = ("measured_data", "clean", "collected_charge", "time_resolution")
    # tolerance of the measured time resolution against the injected jitter
    JITTER_TOLERANCE = 0.2

    def prepare(self, spark, scan_dir: str, work_dir: str) -> None:
        self.spark, self.scan_dir, self.work_dir = spark, scan_dir, work_dir
        self.n_pass = 0
        self.fits_total = self.fits_converged = 0
        # as in the example: constraint propagation is super-linear on the
        # 18-column pivot plan, so the pipeline runs with it off
        spark.conf.set("spark.sql.constraintPropagation.enabled", "false")

    def _pipeline(self, pass_dir: str, timed_build):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from etl_market_survey_spark import pipeline
        from etl_market_survey_spark.fits import grouped
        from etl_market_survey_spark.operators import bootstrap, cuts, delta_t
        from etl_market_survey_spark.sources import readers

        from datagen import THRESHOLDS

        pipe = pipeline.Pipeline(self.spark, pass_dir)

        def stage(name, deps=()):
            def deco(fn):
                pipe.stage(name, deps)(lambda s, inputs: timed_build(fn, s, inputs))
                return fn
            return deco

        @stage("measured_data")
        def measured_data(s, inputs):
            return readers.read_feather(s, self.scan_dir)

        @stage("clean", deps=["measured_data"])
        def clean(s, inputs):
            cut_table = s.createDataFrame(
                [
                    ("Amplitude (V)", "MS07", "lower", 0.05),
                    ("Amplitude (V)", "MS08", "lower", 0.05),
                    ("Noise (V)", "MS07", "higher", 3e-3),
                ],
                "variable string, device_name string, `cut type` string, `cut value` double",
            )
            data = inputs["measured_data"]
            accepted = cuts.apply_cuts(data, cut_table)
            return cuts.attach_accepted(data, accepted, fill=True)

        @stage("collected_charge", deps=["clean"])
        def collected_charge(s, inputs):
            data = inputs["clean"].filter("accepted")
            return grouped.fit_langauss_per_group(
                data.select("device_name", "`Collected charge (V s)`"),
                ["device_name"],
                "Collected charge (V s)",
            )

        @stage("time_resolution", deps=["clean"])
        def time_resolution(s, inputs):
            tk_cols = [f"t_{k} (s)" for k in THRESHOLDS]
            wide = (
                inputs["clean"]
                .filter("accepted")
                .groupBy("n_trigger")
                .pivot("device_name", ["MS07", "MS08"])
                .agg(*[F.first(f"`{c}`").alias(c) for c in tk_cols])
                .na.drop()
            )
            wide = wide.repartition(max(32, s.sparkContext.defaultParallelism))
            boot = bootstrap.bootstrap_hash(wide, "n_trigger", n_replicas=33)
            ks_arr = F.array(*[F.lit(k) for k in THRESHOLDS])

            def t_map(dev):
                return F.map_from_arrays(
                    ks_arr, F.array(*[F.col(f"`{dev}_{c}`") for c in tk_cols])
                )

            cnt = bootstrap.poisson_count_expr(F.col("n_trigger"), F.col("replica"))
            dt = (
                boot.select(
                    "replica",
                    F.explode(F.sequence(F.lit(1), cnt.cast("int"))).alias("_dup2"),
                    t_map("MS07").alias("_m1"),
                    t_map("MS08").alias("_m2"),
                )
                .withColumn("k_1 (%)", F.explode(ks_arr))
                .withColumn("k_2 (%)", F.explode(ks_arr))
                .select(
                    "replica", "k_1 (%)", "k_2 (%)",
                    (
                        F.element_at("_m1", F.col("`k_1 (%)`"))
                        - F.element_at("_m2", F.col("`k_2 (%)`"))
                    ).alias("Δt (s)"),
                )
            )
            mad = delta_t.mad_per_threshold_pair(dt, extra_keys=["replica"])
            w = Window.partitionBy("replica").orderBy(
                F.col("`MAD(Δt) k_MADstd (s)`").asc(), "`k_1 (%)`", "`k_2 (%)`"
            )
            return (
                mad.withColumn("_rn", F.row_number().over(w))
                .filter("_rn = 1").drop("_rn")
            )

        return pipe

    def pass_ops(self, timed_build) -> list[Op]:
        self.n_pass += 1
        self.pass_dir = os.path.join(self.work_dir, f"beta_scan_pass{self.n_pass}")
        pipe = self._pipeline(self.pass_dir, timed_build)
        return [
            Op("measured_data", lambda: pipe.run("measured_data")),
            Op("clean", lambda: pipe.run("clean")),
            Op("collected_charge", lambda: pipe.run("collected_charge"),
               float_digits=10, check=self._check_fits),
            Op("time_resolution", lambda: pipe.run("time_resolution"), float_digits=10),
            Op("sinks", lambda: self._sinks(pipe), check=self._check_resolution),
        ]

    def _sinks(self, pipe) -> dict:
        from pyspark.sql import functions as F

        from etl_market_survey_spark.sources import writers

        charge = pipe.output("collected_charge")
        tr = pipe.output("time_resolution")
        writers.write_csv(charge, f"{self.pass_dir}/collected_charge_results")
        writers.write_csv(tr, f"{self.pass_dir}/time_resolution_results")
        row = tr.agg(
            F.median("`MAD(Δt) k_MADstd (s)`").alias("m"),
            F.stddev("`MAD(Δt) k_MADstd (s)`").alias("e"),
        ).collect()[0]
        scalars = {
            "time resolution (s)": row["m"] / math.sqrt(2),
            "time resolution (s) error": row["e"] / math.sqrt(2),
        }
        writers.write_text_sidecar(scalars, f"{self.pass_dir}/time_resolution.txt")
        # the digest covers the values to 10 significant digits
        return {k: float(f"{v:.9e}") for k, v in scalars.items()}

    def rerun_op(self, timed_build) -> Op:
        """The whole pipeline again over the same directory: every stage
        is memoized by its marker, so this reads the checkpoints."""
        pipe = self._pipeline(self.pass_dir, timed_build)

        def rerun():
            return pipe.run("collected_charge"), pipe.run("time_resolution")

        return Op("memoized_rerun", rerun, float_digits=10)

    def finish_pass(self) -> None:
        import shutil

        shutil.rmtree(self.pass_dir, ignore_errors=True)

    def _check_fits(self, df) -> None:
        rows = df.collect()
        self.fits_total += len(rows)
        self.fits_converged += sum(1 for r in rows if r["converged"])
        if len(rows) != 2 or not all(r["converged"] for r in rows):
            raise AssertionError(f"langauss fits not all converged: {rows}")

    def checkpoint_bytes(self) -> int:
        total = 0
        for stage in self.STAGES:
            for dirpath, _, files in os.walk(os.path.join(self.pass_dir, stage)):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def _check_resolution(self, value: dict) -> None:
        from datagen import TRUE_JITTER

        got = value["time resolution (s)"]
        if abs(got / TRUE_JITTER - 1.0) > self.JITTER_TOLERANCE:
            raise AssertionError(
                f"time resolution {got:.3e} s is not within "
                f"{self.JITTER_TOLERANCE:.0%} of the injected {TRUE_JITTER:.1e} s"
            )


def make(workload: str):
    if workload == "beta_scan":
        return BetaScanWorkload()
    if workload == "query_mix":
        return RegistryWorkload(QUERY_MIX, rerun_name="q01_pricing_summary")
    if workload == "lakehouse_dml":
        return LakehouseWorkload(LAKEHOUSE_DML)
    raise SystemExit(f"unknown workload {workload!r}")


WORKLOADS = ("beta_scan", "query_mix", "lakehouse_dml")

