"""Session pinning, spans and small statistics shared by the workloads."""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

CPUS = 4                 # local[n]; capped at nproc below
DRIVER_MEMORY = "2g"     # well below box RAM (get_spark defaults to 24g)


def cpus() -> int:
    return max(1, min(CPUS, os.cpu_count() or 1))


class Session:
    """One SparkSession, pinned for the benchmark. The JVM's stderr (where
    log4j writes) goes to ``<work>/spark.log`` so WARN lines can be counted
    per run."""

    def __init__(self, repo: str, work: str):
        self.repo = repo
        self.work = work
        self.log_path = os.path.join(work, "spark.log")
        self.spark = None
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers import the package from the checkout root; they
        # inherit this environment through the JVM
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None  # re-read TMPDIR
        # no hsperfdata files under /tmp from the launcher or driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }

    def start(self):
        from language_diversity_common_crawler_spark.session import get_spark

        # the JVM inherits fd 2 at launch; point it at the log file for the
        # launch only, then give Python its stderr back
        sys.stderr.flush()
        saved = os.dup(2)
        log_fd = os.open(self.log_path,
                         os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.dup2(log_fd, 2)
        try:
            self.spark = get_spark("perfbench", cpus=cpus(),
                                   extra_conf=self.conf)
        finally:
            os.dup2(saved, 2)
            os.close(saved)
            os.close(log_fd)
        return self.spark

    def stop(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit (it exits
        when its stdin closes; the Python workers are its children)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=120)

    def log_text(self) -> str:
        try:
            with open(self.log_path, errors="replace") as f:
                return f.read()
        except OSError:
            return ""


class Tracer:
    """In-memory spans (name, start, end, parent, run id). Every span sets
    its own job group on ``sc`` so Spark's stage counters can be
    attributed to it; the parent's group is restored on exit. Disabled
    tracers time nothing and touch no job group."""

    def __init__(self, run_id: str, sc, enabled: bool):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_enter = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "run": self.run_id, "group": f"{self.run_id}/{sid}/{name}"}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                p = self.spans[self._stack[-1]]
                self.sc.setJobGroup(p["group"], p["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            # time the span machinery itself added (job-group calls)
            rec["book_s"] = (rec["start"] - t_enter
                             + time.perf_counter() - rec["end"])

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover
        (children of one span run one after another)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        import json

        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": st[s["id"]]}) + "\n")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def ratio(num: float, den: float) -> float:
    return float(num) / float(den) if den else 0.0
