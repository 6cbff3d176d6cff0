"""Cold spark-submit benchmark of the shipped pipeline.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Every timed run is a fresh ``spark-submit --master local[<nproc>]
--py-files <make_zip output>`` of ``dataprof_spark.pipeline.run``, timed
from outside, with its output checked. ``--trace 1`` adds one traced
run (Spark event log on, a span around each public call) and prints
per-layer figures instead of end-to-end ones. The last line of stdout
is the result as one JSON object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, proctree  # noqa: E402 - needs ROOT on the path

WORKLOADS = ("ingest", "dedup_near", "resume")
N_BUCKETS = 64  # pipeline.run --buckets default
RUN_TIMEOUT_S = 140
BUDGET_S = 172  # an invocation must end within 180 s
END_TO_END = {  # name -> unit
    "wall_s": "s", "docs_per_s": "1/s", "setup_s": "s", "cpu_s": "s",
    "output_mb": "MB",
}
# printed with the end-to-end medians, but too bimodal run to run to
# carry a bound: it depends on how many Python workers are alive when
# the JVM heap peaks
TREE = {"peak_rss_mb": "MB"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "scan.time_s": "s", "scan.bytes": "bytes", "scan.rows": "count",
    "gates.udf.boot_s": "s", "gates.udf.run_s": "s",
    "gates.udf.sent_bytes": "bytes", "gates.udf.returned_bytes": "bytes",
    "gates.udf.rows": "count",
    "exprs.wscg_s": "s",
    "core.import_s": "s", "core.langid_s": "s", "core.perplexity_s": "s",
    "core.scrub_s": "s",
    "checkpoint.run_s": "s", "checkpoint.write_s": "s",
    "checkpoint.manifest_s": "s", "checkpoint.shuffle_bytes": "bytes",
    "checkpoint.files": "count",
    "dedup.exact_s": "s", "dedup.near_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio", "dedup.shuffle_bytes": "bytes",
    "dedup.injected_recall": "ratio",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.spill_bytes": "bytes", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.slot_busy": "ratio",
    "spark.stage_skew": "ratio",
    "tree.peak_rss_mb": "MB",
    "trace.wall_s": "s", "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio", "trace.spans": "count",
}
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch default
KEEP_SEEDS = 32  # prepared seeds kept in .perfbench/seeds


class BenchError(RuntimeError):
    """A run the benchmark depends on (input preparation or the traced
    run) failed, so there is no result to report."""


def code_hash() -> str:
    """Identity of the program and benchmark sources; keys the caches."""
    h = hashlib.sha256()
    for sub in ("dataprof_spark", "perfbench"):
        for path in sorted((ROOT / sub).rglob("*.py")):
            h.update(str(path.relative_to(ROOT)).encode())
            h.update(path.read_bytes())
    return h.hexdigest()[:16]


def versions() -> dict:
    import pyspark

    spark_home = Path(shutil.which("spark-submit")).resolve().parent.parent
    release = spark_home / "RELEASE"
    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    return {
        "spark": release.read_text().splitlines()[0] if release.exists()
        else pyspark.__version__,
        "java": java[0] if java else "unknown",
        "python": sys.version.split()[0],
    }


def summarize(workload: str, samples: list[dict]) -> tuple[dict, list[str]]:
    """Median of each end-to-end metric over the runs whose output
    checked correct (over all runs if none did), and one report line
    per metric with its unit and sample count."""
    ok = [s for s in samples if s["ok"]] or samples
    units = END_TO_END | TREE
    medians = {k: statistics.median(s[k] for s in ok) for k in units}
    lines = [f"# {workload} {k} = {medians[k]:.6g} {unit} "
             f"(median of {len(ok)} samples)" for k, unit in units.items()]
    return medians, lines


class Bench:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.t0 = time.perf_counter()
        self.cores = len(os.sched_getaffinity(0))
        self.work = ROOT / ".perfbench"
        self.scratch = self.work / "runs" / str(os.getpid())
        self.tmp = self.scratch / "tmp"
        self.tmp.mkdir(parents=True, exist_ok=True)
        key = code_hash()
        self._prune(key)
        self.seed_dir = self.work / "seeds" / f"{key}-s{args.seed}"
        self.zip = self._zip(self.work / "dist" / key)
        self.app = str(ROOT / "perfbench" / "app.py")
        self.env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        self.env.update(SPARK_GRAFT_CPUS=str(self.cores),
                        SPARK_LOCAL_DIRS=str(self.scratch / "spark-local"),
                        TMPDIR=str(self.tmp))
        self.measure_start = 0.0
        self.failures: list[str] = []

    def _prune(self, key: str) -> None:
        """Drop the caches of other source versions, of runs that are
        no longer alive, and of all but the most recently used seeds."""
        for p in (self.work / "runs").iterdir():
            if p != self.scratch and not Path(f"/proc/{p.name}").exists():
                shutil.rmtree(p, ignore_errors=True)
        for sub in ("dist", "seeds"):
            d = self.work / sub
            for p in d.iterdir() if d.exists() else []:
                if not p.name.startswith(key):
                    shutil.rmtree(p, ignore_errors=True)
        seeds = sorted((self.work / "seeds").glob(f"{key}-s*"),
                       key=lambda p: p.stat().st_mtime)
        for p in seeds[:-KEEP_SEEDS]:
            shutil.rmtree(p, ignore_errors=True)

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def _zip(self, dest: Path) -> str:
        out = dest / "dataprof_spark.zip"
        if not out.exists():
            from dataprof_spark.pipeline import run

            dest.mkdir(parents=True, exist_ok=True)
            os.replace(run.make_zip(str(self.scratch / "dist")), out)
        return str(out)

    # ---------------------------------------------------------- launching
    def submit(self, mode: list[str], trace_dir: Path | None = None):
        cmd = ["spark-submit", "--master", f"local[{self.cores}]",
               "--driver-java-options",
               f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"]
        if trace_dir is not None:
            trace_dir.mkdir(parents=True, exist_ok=True)
            for k, v in (("spark.eventLog.enabled", "true"),
                         ("spark.eventLog.dir", trace_dir.as_uri()),
                         ("spark.eventLog.compress", "false"),
                         ("spark.eventLog.rolling.enabled", "false")):
                cmd += ["--conf", f"{k}={v}"]
        cmd += ["--py-files", self.zip, self.app] + mode
        # a slow run is killed, and counted as failed, rather than
        # letting the invocation outlive its time limit
        timeout = max(5.0, min(RUN_TIMEOUT_S, BUDGET_S - self.elapsed()))
        return proctree.run_tree(cmd, self.env, str(self.scratch), timeout)

    def pipeline(self, out: str, extra: list[str], trace_dir=None):
        """One cold run of pipeline.run; returns (TreeRun, stamp)."""
        stamp = self.scratch / "stamp.json"
        stamp.unlink(missing_ok=True)
        mode = ["pipeline", str(stamp)]
        if trace_dir is not None:
            mode = ["traced", str(stamp), str(trace_dir / "spans.json")]
        corpus_dir = str(self.seed_dir / "corpus")
        run = self.submit(mode + ["--", "--input", corpus_dir,
                                  "--output", out] + extra, trace_dir)
        st = json.loads(stamp.read_text()) if stamp.exists() else {}
        return run, st

    # ---------------------------------------------------------- inputs
    def prepare(self) -> dict:
        """Corpus, reference labels and, per workload, the pipeline
        output it starts from; cached per (source hash, seed)."""
        from perfbench import checks, corpus

        sd = self.seed_dir
        sd.mkdir(parents=True, exist_ok=True)
        os.utime(sd)  # most recently used
        if not (sd / "reference.json").exists():
            corpus.prepare(self.args.seed, str(sd))
        ref = corpus.load(str(sd))
        if self.args.workload in ("dedup_near", "resume"):
            phase1 = sd / "phase1"
            if not phase1.exists():
                tmp = self.scratch / "phase1"
                run, _ = self.pipeline(str(tmp), [])
                problems = (["exit %d: %s" % (run.returncode, run.stderr_tail)]
                            if run.returncode else
                            checks.check_ingest(str(tmp), ref["labels"],
                                                N_BUCKETS))
                if problems:
                    raise BenchError(f"phase-1 output: {problems[:3]}")
                self._adopt(tmp, phase1)
        if self.args.workload == "dedup_near":
            oracle = sd / "near_oracle.json"
            if not oracle.exists():
                from perfbench import app

                pairs, losers = checks.near_dup_oracle(
                    ref["labels"], app.NEAR_PERM, app.NEAR_THRESHOLD)
                oracle.write_text(json.dumps(
                    {"pairs": pairs, "losers": sorted(losers)}))
            ref["near_oracle"] = json.loads(oracle.read_text())
        if self.args.workload == "resume" and not (sd / "half").exists():
            tmp = self.scratch / "half"
            run = self.submit(["prep-half", str(sd / "corpus"), str(tmp),
                               str(N_BUCKETS)])
            if run.returncode:
                raise BenchError(f"half output: {run.stderr_tail}")
            self._adopt(tmp, sd / "half")
        return ref

    @staticmethod
    def _adopt(src: Path, dest: Path) -> None:
        """Move a checked output into the seed cache."""
        if dest.exists():
            shutil.rmtree(src)
        else:
            src.replace(dest)

    # ---------------------------------------------------------- runs
    def timed_run(self, i: int, ref: dict, trace_dir: Path | None = None):
        from perfbench import checks

        w, sd = self.args.workload, self.seed_dir
        out = self.scratch / f"out-{i}"
        extra: list[str] = []
        docs = ref["docs"]
        if w == "dedup_near":
            out = sd / "phase1"
            extra = ["--dedup", "near"]
            shutil.rmtree(f"{out}_deduped", ignore_errors=True)
        elif w == "resume":
            shutil.copytree(sd / "half", out)
            half = checks.read_manifests(str(sd / "half"))
            docs = sum(m["docs_in"] for k, m in
                       checks.read_manifests(str(sd / "phase1")).items()
                       if k not in half)
            before = checks.dir_bytes(str(out))
        run, stamp = self.pipeline(str(out), extra, trace_dir)
        problems: list[str] = []
        output_bytes = 0
        sample = {}
        if run.timed_out:
            problems.append(f"killed after {run.wall_s:.0f} s")
        elif run.returncode != 0:
            problems.append(f"exit {run.returncode}: {run.stderr_tail}")
        elif w == "ingest":
            problems = checks.check_ingest(str(out), ref["labels"], N_BUCKETS)
            output_bytes = checks.dir_bytes(str(out / "decisions"),
                                            str(out / "_manifest"))
            if not problems and not (sd / "phase1").exists():
                self._adopt(out, sd / "phase1")
        elif w == "resume":
            problems = checks.check_resume(str(out), str(sd / "phase1"))
            output_bytes = checks.dir_bytes(str(out)) - before
        else:
            deduped = f"{out}_deduped"
            problems, demoted = checks.check_dedup(
                deduped, ref["labels"], ref["injected"]["exact_dup_copy"],
                set(ref["near_oracle"]["losers"]))
            problems += self._same_demotions(demoted)
            # share of injected near copies no longer kept (LSH recall)
            near = ref["injected"]["near_dup_copy"]
            phase1_kept = {r["url"] for r in ref["labels"] if r["keep"]}
            sample["injected_near_recall"] = sum(
                u in demoted or u not in phase1_kept for u in near) / len(near)
            output_bytes = checks.dir_bytes(deduped)
        if w != "dedup_near":
            shutil.rmtree(out, ignore_errors=True)
        sample.update({
            "ok": not problems,
            "wall_s": run.wall_s,
            "setup_s": stamp.get("session_ready", run.launch_epoch)
            - run.launch_epoch,
            "cpu_s": run.cpu_s,
            "peak_rss_mb": run.peak_rss_mb,
            "output_mb": output_bytes / 2**20,
            "docs_per_s": docs / run.wall_s,
            "docs": docs,
            "loadavg": [run.env_before["loadavg"], run.env_after["loadavg"]],
            "steal_share": run.steal_share,
        })
        if problems:
            self.failures.append(f"run {i}: {problems[:3]}")
        return sample, run, stamp

    def _same_demotions(self, demoted: dict) -> list[str]:
        """The demoted-url set repeats across runs of one seed."""
        path = self.seed_dir / "demoted.json"
        if not path.exists():
            path.write_text(json.dumps(demoted, sort_keys=True))
            return []
        if json.loads(path.read_text()) != demoted:
            return ["demoted-url set differs from an earlier run"]
        return []

    def measure(self, ref: dict, reserve_s: float) -> list[dict]:
        samples: list[dict] = []
        while True:
            sample, _, _ = self.timed_run(len(samples), ref)
            samples.append(sample)
            print("# sample", json.dumps(sample), flush=True)
            spent = self.elapsed()
            nxt = 1.25 * max(s["wall_s"] for s in samples)
            if (spent - self.measure_start >= self.args.seconds
                    or spent + nxt + reserve_s > BUDGET_S):
                return samples

    # ---------------------------------------------------------- trace
    def traced(self, ref: dict, untraced: dict) -> tuple[dict, dict]:
        trace_dir = self.scratch / "trace"
        sample, run, stamp = self.timed_run(-1, ref, trace_dir)
        if not (trace_dir / "spans.json").exists():
            raise BenchError(f"traced run failed: {run.stderr_tail}")
        spans = json.loads((trace_dir / "spans.json").read_text())
        # the JVM and Python start before the app's first line, and the
        # shutdown after its last, as spans measured from outside
        app = next(s for s in spans if s["name"] == "app")
        spans += [
            {"id": len(spans), "name": "submit.launch", "parent": None,
             "start": run.launch_epoch, "end": app["start"]},
            {"id": len(spans) + 1, "name": "submit.exit", "parent": None,
             "start": app["end"], "end": run.launch_epoch + run.wall_s},
        ]
        logs = [p for p in trace_dir.iterdir() if p.name != "spans.json"]
        log = eventlog.EventLog(eventlog.read_events(str(logs[0])))
        m = eventlog.layer_metrics(log, spans, run.wall_s, self.cores)
        m["trace.wall_s"] = run.wall_s
        m["trace.overhead_s"] = run.wall_s - untraced["wall_s"]
        m["tree.peak_rss_mb"] = untraced["peak_rss_mb"]
        m["dedup.injected_recall"] = sample.get("injected_near_recall", 0.0)
        w = self.args.workload
        m.update(self.kernels() if w != "dedup_near" else
                 dict.fromkeys(("core.import_s", "core.langid_s",
                                "core.perplexity_s", "core.scrub_s"), 0.0))
        m.update(self.pairs(ref["near_oracle"]["pairs"]) if w == "dedup_near" else
                 dict.fromkeys(("dedup.candidate_pairs",
                                "dedup.verified_pairs",
                                "dedup.verify_yield"), 0.0))
        record = {"workload": w, "seed": self.args.seed, "sample": sample,
                  "launch": run.launch_epoch, "stamp": stamp, "spans": spans,
                  "metrics": m}
        out = self.work / "traces" / f"{w}-s{self.args.seed}-{int(time.time())}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(record, indent=1))
        print(f"# trace written to {out.relative_to(ROOT)}", flush=True)
        return m, sample

    def kernels(self) -> dict:
        """Single-thread core kernel calls over the corpus texts in
        Arrow-batch-sized chunks, and core's import time in a fresh
        interpreter."""
        import pandas as pd

        from dataprof_spark.core import models, scrub
        from perfbench import checks

        probe = ("import time; t = time.perf_counter(); "
                 "import dataprof_spark.core.models, dataprof_spark.core.scrub, "
                 "dataprof_spark.core.langid, dataprof_spark.core.perplexity; "
                 "print(time.perf_counter() - t)")
        imp = subprocess.run([sys.executable, "-c", probe], cwd=ROOT,
                             env=self.env, capture_output=True, text=True,
                             check=True)
        texts = [r["text"] for r in checks.read_rows(
            str(self.seed_dir / "corpus"), ["text"])]
        out = {"core.import_s": float(imp.stdout.split()[-1]),
               "core.langid_s": 0.0, "core.perplexity_s": 0.0,
               "core.scrub_s": 0.0}
        for i in range(0, len(texts), ARROW_BATCH):
            chunk = texts[i:i + ARROW_BATCH]
            for name, fn in (("core.langid_s", models.predict_batch),
                             ("core.perplexity_s", models.perplexity_batch),
                             ("core.scrub_s",
                              lambda c: scrub.scrub_batch(pd.Series(c)))):
                t = time.perf_counter()
                fn(chunk)
                out[name] += time.perf_counter() - t
        return out

    def pairs(self, oracle_pairs: int) -> dict:
        """Near-dup candidate/verified pair counts: they must repeat on
        every run of a seed, and the verified count must equal the
        DuckDB twin's."""
        result = self.scratch / "pairs.json"
        run = self.submit(["pairs", str(self.seed_dir / "phase1"),
                           str(result)])
        if run.returncode:
            self.failures.append(f"pairs probe: {run.stderr_tail}")
            return {"dedup.candidate_pairs": 0.0, "dedup.verified_pairs": 0.0,
                    "dedup.verify_yield": 0.0}
        counts = json.loads(result.read_text())
        cached = self.seed_dir / "pairs.json"
        if not cached.exists():
            cached.write_text(json.dumps(counts))
        if counts != json.loads(cached.read_text()):
            self.failures.append(f"pair counts did not repeat: {counts}")
        cand, ver = counts["candidate_pairs"], counts["verified_pairs"]
        if ver != oracle_pairs:
            self.failures.append(
                f"{ver} verified pairs, the DuckDB twin finds {oracle_pairs}")
        return {"dedup.candidate_pairs": float(cand),
                "dedup.verified_pairs": float(ver),
                "dedup.verify_yield": ver / cand if cand else 0.0}

    # ---------------------------------------------------------- one invocation
    def run(self) -> dict:
        a = self.args
        print("# env", json.dumps({
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "nproc": self.cores,
            "master": f"local[{self.cores}]", **versions()}), flush=True)
        ref = self.prepare()
        print("# corpus", json.dumps({
            "seed": ref["seed"], "pages": ref["pages"], "docs": ref["docs"],
            "text_bytes": ref["text_bytes"],
            "prep_s": round(self.elapsed(), 3)}), flush=True)
        self.measure_start = self.elapsed()
        reserve = 0.0  # time kept for the traced run and its probes
        if a.trace:
            reserve = 45.0 + (30.0 if a.workload == "dedup_near" else 10.0)
        samples = self.measure(ref, reserve)
        medians, lines = summarize(a.workload, samples)
        print("\n".join(lines), flush=True)
        attempted = len(samples)
        if a.trace:
            metrics, sample = self.traced(ref, medians)
            samples.append(sample)
            attempted += 1
            report = {k: {"value": metrics[k], "unit": u}
                      for k, u in PER_LAYER.items()}
        else:
            report = {k: {"value": medians[k], "unit": u}
                      for k, u in END_TO_END.items()}
        failed = sum(not s["ok"] for s in samples)
        print(f"# {a.workload} error_rate = {failed / attempted:.6g} "
              f"({failed} of {attempted} runs)", flush=True)
        for f in self.failures:
            print("# FAILED", f, flush=True)
        return {"correct": not self.failures, "attempted": attempted,
                "failed": max(failed, 1 if self.failures else 0),
                "metrics": report}

    def close(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import dataprof_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if shutil.which("spark-submit") is None:
        print("perfbench: spark-submit is not on PATH", file=sys.stderr)
        return 2
    proctree.become_subreaper()
    bench = Bench(args)
    try:
        result = bench.run()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        bench.close()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
