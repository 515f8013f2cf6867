"""One benchmark run of one workload, in a fresh process.

    python3 perfbench/worker.py <config.json>

``run.py`` writes the config and launches this process; it is not meant to
be started by hand. Phases: Spark session start, workload setup (seed
state or LM artifact), untimed warm-up passes, timed passes, and with
tracing on one untraced and one traced pass plus, for curation, the
per-layer decomposition. Every pass is checked for correctness. The
result goes to the config's ``result`` path as JSON.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hostprobe  # noqa: E402
import oracle  # noqa: E402

RUN_ID = "bench"
TEXT_REASONS = ("too_short", "too_long", "lang_mismatch")


class ValidateJob:
    """``scripts/run_validation_job.main`` over the flat documents table.
    Every pass gets a fresh copy of a seed output directory that holds one
    earlier run's stats-history baseline, so the drift loop and its
    streaming arm run on every pass."""

    LAYER = "validation"

    def __init__(self, cfg, spark, work):
        import run_validation_job

        self.job = run_validation_job
        self.cfg, self.spark, self.work = cfg, spark, work
        self.exp = oracle.validate_expectations(cfg["n_docs"])
        self.seed_dir = os.path.join(work, "seed_state")

    def setup(self) -> None:
        """Run the job once as an earlier run and keep only its baseline.
        This is also the first warm-up pass (compile, first scans)."""
        with contextlib.redirect_stdout(io.StringIO()):
            self.job.main(self.cfg["input_dir"], self.seed_dir, "seed")
        for name in os.listdir(self.seed_dir):
            if name != "stats_history":
                shutil.rmtree(os.path.join(self.seed_dir, name))

    def prepare(self, out: str) -> None:
        shutil.copytree(self.seed_dir, out)

    def run(self, out: str) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.job.main(self.cfg["input_dir"], out, RUN_ID)
        return buf.getvalue()

    def check(self, out: str, stdout: str) -> list[str]:
        return oracle.check_validate(out, RUN_ID, stdout, self.exp)

    def facts(self, out: str) -> dict:
        import duckdb

        con = duckdb.connect()

        def rows(sub: str, where: str = "TRUE") -> int:
            return con.sql(f"SELECT count(*) FROM {oracle._pq(os.path.join(out, sub))} "
                           f"WHERE {where}").fetchone()[0]

        return {
            "validation.rules.violations": rows("violations"),
            "crossrow.violations": rows("violations_cross"),
            "drift.violations": rows("violations_drift"),
            "checkpoint.lineage.rows": rows("lineage", f"run_id = '{RUN_ID}'"),
        }


class Curation:
    """``plans.curation.curate_documents`` with the perplexity gate; the LM
    artifact is trained in setup on the seeded reference sample."""

    LAYER = "curation.pass"

    def __init__(self, cfg, spark, work):
        self.cfg, self.spark, self.work = cfg, spark, work
        self.params = cfg["params"]
        self.docs_path = os.path.join(cfg["input_dir"], "documents.parquet")
        self.lm = None

    def setup(self) -> None:
        from json_schema_py_spark.operators.lm import train_bigram_lm

        ref = self.spark.read.parquet(os.path.join(self.cfg["input_dir"], "reference.parquet"))
        tables = train_bigram_lm(ref, vocab_size=self.params["vocab_size"])
        paths = [os.path.join(self.work, "lm", n) for n in ("vocab", "unigrams", "bigrams")]
        for df, p in zip(tables, paths):
            df.write.mode("overwrite").parquet(p)
        self.lm = tuple(self.spark.read.parquet(p) for p in paths)

    def prepare(self, out: str) -> None:
        pass

    def plan(self):
        from json_schema_py_spark.plans.curation import curate_documents

        p = self.params
        return curate_documents(
            self.spark.read.parquet(self.docs_path),
            min_tokens=p["min_tokens"], max_tokens=p["max_tokens"], lang="en",
            near_dup_threshold=p["near_dup_threshold"],
            lm=self.lm, max_perplexity=p["max_perplexity"],
        )

    def run(self, out: str) -> str:
        self.plan().write.mode("overwrite").parquet(out)
        self.spark.catalog.clearCache()  # release the staged persist
        return ""

    def check(self, out: str, stdout: str) -> list[str]:
        return oracle.check_curation(out, self.cfg["input_dir"], self.cfg["expect_path"], self.params)

    def facts(self, out: str) -> dict:
        import duckdb

        counts = dict(duckdb.sql(f"SELECT reason, count(*) FROM {oracle._pq(out)} GROUP BY 1").fetchall())
        return {
            "text.quality.drops": sum(counts.get(r, 0) for r in TEXT_REASONS),
            "lm.score.drops": counts.get("high_perplexity", 0),
            "dedup.exact.drops": counts.get("exact_duplicate", 0),
            "curation.attach.rows": sum(counts.values()),
        }

    def decompose(self, tracer, out: str) -> dict:
        """Call each layer's public function on the inputs it sees inside
        the pass, with a count or noop sink, under its own layer label."""
        from pyspark.sql import functions as F

        from json_schema_py_spark.functions.text import (
            lang_id, stopword_ratio, text_fingerprint, token_count)
        from json_schema_py_spark.operators.dedup import exact_duplicates, minhash_lsh_pairs
        from json_schema_py_spark.operators.lm import score_perplexity

        spark = self.spark
        docs = spark.read.parquet(self.docs_path)
        verdicts = spark.read.parquet(out)
        stage_in = {}
        with tracer.layer("setup.decompose"):
            for name, reasons in (("survivors", ("exact_duplicate", "near_duplicate", "kept")),
                                  ("dedup_corpus", ("near_duplicate", "kept"))):
                p = os.path.join(self.work, "decompose", name)
                (docs.join(verdicts.where(F.col("reason").isin(*reasons)), "doc_id", "left_semi")
                 .write.mode("overwrite").parquet(p))
                stage_in[name] = spark.read.parquet(p)
        t = self.params["near_dup_threshold"]
        with tracer.layer("text.quality"):
            c = F.col("text")
            (docs.select("doc_id", token_count(c), lang_id(c), stopword_ratio(c), text_fingerprint(c))
             .write.format("noop").mode("overwrite").save())
        with tracer.layer("lm.score"):
            score_perplexity(docs, *self.lm).write.format("noop").mode("overwrite").save()
        with tracer.layer("dedup.exact"):
            exact_duplicates(stage_in["survivors"]).count()
        with tracer.layer("dedup.lsh"):
            verified = minhash_lsh_pairs(stage_in["dedup_corpus"], threshold=t).count()
        with tracer.layer("setup.decompose"):
            candidates = minhash_lsh_pairs(stage_in["dedup_corpus"], threshold=0.0).count()
        return {
            "dedup.lsh.candidates": candidates,
            "dedup.lsh.verified": verified,
            "dedup.lsh.verify_yield": verified / candidates if candidates else 0.0,
        }


def _pass(wl, out: str) -> tuple[float, float, str, list[str]]:
    """(wall s, tree cpu s, stdout, failures) of one pass."""
    shutil.rmtree(out, ignore_errors=True)
    wl.prepare(out)
    pid = os.getpid()
    c0, t0 = hostprobe.tree_cpu_s(pid), time.perf_counter()
    try:
        stdout = wl.run(out)
    except Exception:
        return time.perf_counter() - t0, 0.0, "", ["pass raised:\n" + traceback.format_exc()]
    wall = time.perf_counter() - t0
    cpu = hostprobe.tree_cpu_s(pid) - c0
    try:
        fails = wl.check(out, stdout)
    except Exception:
        fails = ["check raised:\n" + traceback.format_exc()]
    return wall, cpu, stdout, fails


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    root, work = cfg["root"], cfg["work_dir"]
    sys.path[:0] = [root, os.path.join(root, "scripts")]
    trace = bool(cfg["trace"])
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    passes: list[dict] = []
    result = {"passes": passes}

    def record(kind, out, wall, cpu, fails):
        passes.append({"kind": kind, "wall_s": wall, "cpu_s": cpu, "ok": not fails,
                       "failures": fails})
        if fails:
            print(f"[{kind}] FAILED: {fails}", file=sys.stderr, flush=True)
        if not cfg.get("keep_outputs"):
            shutil.rmtree(out, ignore_errors=True)

    t_sess = time.perf_counter()
    from json_schema_py_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    result["session_start_s"] = time.perf_counter() - t_sess

    tracer = None
    if trace:
        from layertrace import COMMON, Tracer

        import json_schema_py_spark.plans.validation as pv
        import json_schema_py_spark.util as util
        from json_schema_py_spark.operators import lm as lm_mod

        tracer = Tracer(spark, root)
        tracer.wrap_driver(pv, "compile_ruleset", "schema.compile")
        tracer.wrap_driver(lm_mod, "train_bigram_lm", "lm.train")
        tracer.wrap_driver(util, "duplication_probe", "collapse.probe",
                           lambda out, a: tracer.probes.append({"n": out[0], "d": out[1]}))
        tracer.wrap_driver(lm_mod, "collapse_mode", "collapse.decide",
                           lambda out, a: tracer.probes.append({"mode": out}))

    wl = (ValidateJob if cfg["workload"] == "validate_job" else Curation)(cfg, spark, work)
    try:
        wl.setup()
    except Exception:
        record("setup", os.path.join(work, "none"), 0.0, 0.0,
               ["setup raised:\n" + traceback.format_exc()])
        return _finish(cfg, result, spark)
    for i in range(cfg["warmup_passes"]):
        out = os.path.join(work, f"warmup{i}")
        wall, cpu, _, fails = _pass(wl, out)
        record("warmup", out, wall, cpu, fails)

    pid = os.getpid()
    result["setup_s"] = time.time() - cfg["t_launch"]
    for i in range(cfg["timed_passes"]):
        out = os.path.join(work, f"timed{i}")
        wall, cpu, _, fails = _pass(wl, out)
        record("timed", out, wall, cpu, fails)
    result["peak_rss_mb"] = hostprobe.tree_hwm_mb(pid)

    if trace:
        out = os.path.join(work, "traced")
        dmark = {k: len(v) for k, v in tracer.driver.items()}
        pmark = len(tracer.probes)
        tracer.install_actions()
        try:
            # actions the benchmark issues itself belong to the workload
            with tracer.layer(wl.LAYER):
                wall, cpu, _, fails = _pass(wl, out)
        finally:
            tracer.uninstall_actions()
        layers, totals = tracer.layer_metrics(cores)
        layer_out = {
            "pass_wall_s": wall, "layers": layers, "totals": totals,
            "pass_driver": {k: v[dmark.get(k, 0):] for k, v in tracer.driver.items()},
            "pass_probes": tracer.probes[pmark:],
        }
        if not fails:
            layer_out["facts"] = wl.facts(out)
            if isinstance(wl, Curation):
                # the pass is one write plus the jobs its plan builders run;
                # the whole pass is the curation layer, its parts come from
                # the decomposition below
                whole = {k: sum(v[k] for v in layers.values()) for k in COMMON}
                whole["wall_s"] = wall
                whole["busy_share"] = whole["exec_run_s"] / (wall * cores)
                layer_out["pass_layers"] = dict(layers)
                layers["curation.pass"] = whole
                tracer.install_actions()
                try:
                    layer_out["facts"].update(wl.decompose(tracer, out))
                finally:
                    tracer.uninstall_actions()
                decomposed, _ = tracer.layer_metrics(cores)
                for k in ("text.quality", "lm.score", "dedup.exact", "dedup.lsh"):
                    layers[k] = decomposed.get(k, {})
        layer_out["driver"] = tracer.driver
        layer_out["probes"] = tracer.probes
        result["trace"] = layer_out
        record("traced", out, wall, cpu, fails)
    return _finish(cfg, result, spark)


def _finish(cfg, result, spark) -> int:
    spark.stop()
    with open(cfg["result"], "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
