"""ABAB-compare one registered query at two git refs.

Usage:
    python tools/abab.py <query> <refA> <refB> [--sf DIR]

Each ref is checked out with ``git worktree add --detach`` under a temporary
directory, removed again on exit. Each side gets one worker process whose cwd
and ``PYTHONPATH`` are its worktree, so the pandas-UDF Python workers import
the same ref. A worker runs ``session.enable_bench_tuning()`` +
``session.get_spark()`` on ``local[nproc]`` with a 1g driver heap (as
``perfbench/run.py`` does) and the query ``__spark_entry__.queries()[query]``
read from ``--sf`` (default: the sf0.1 fixtures).

Protocol: one untimed warm-up per side, whose results must be row-identical
under this checkout's ``oracle.canonical_rows`` (else exit 1); then
``PAIRS`` timed pairs, A first on even pairs and B first on odd ones. A rep is
construction plus ``toPandas()``, with no forced GC. The output is one JSON
line: each side's times, median and quartiles, B's wins, the ties, and
whether B's gain meets the simplicity-review rule (B wins at least 9 of 10
pairs and A's median exceeds B's by more than A's interquartile range).
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRS = 10
GAIN_WIN_SHARE = 0.9

# Runs in a worker: cwd and PYTHONPATH are the side's worktree, so the first
# sys.path entry ('') resolves the package at that ref.
_WORKER = "import sys; sys.path.insert(1, {tools!r}); import abab; abab.serve(*sys.argv[1:])"


# -- pure summary (Spark-free) -------------------------------------------------
def pair_order(pair: int) -> tuple[str, str]:
    """Which side runs first in a pair: A on even pairs, B on odd ones."""
    return ("A", "B") if pair % 2 == 0 else ("B", "A")


def _side(times: list[float], q: list[float]) -> dict:
    q1, med, q3 = (round(x, 4) for x in q)
    return {"times_s": times, "q1_s": q1, "median_s": med, "q3_s": q3}


def summarize(a: list[float], b: list[float]) -> dict:
    """Per-side medians and quartiles, B's wins, ties, and the gain verdict.

    A pair where both times are equal counts for neither side. B's gain holds
    when B wins at least 9/10 of the pairs and A's median exceeds B's by more
    than A's interquartile range.
    """
    b_wins = sum(tb < ta for ta, tb in zip(a, b))
    ties = sum(tb == ta for ta, tb in zip(a, b))
    qa, qb = (statistics.quantiles(t, n=4, method="inclusive") for t in (a, b))
    return {
        "a": _side(a, qa),
        "b": _side(b, qb),
        "pairs": len(a),
        "b_wins": b_wins,
        "ties": ties,
        "gain": b_wins >= GAIN_WIN_SHARE * len(a) and qa[1] - qb[1] > qa[2] - qa[0],
    }


# -- worker side ---------------------------------------------------------------
def serve(query: str, sf_dir: str, result_path: str) -> None:
    """Run ``query`` once per stdin line; reply its seconds on the old stdout.

    A ``warm`` line also writes the result frame to ``result_path``.
    """
    reply = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # Spark and py4j output goes to stderr, not the reply channel
    import __spark_entry__
    from big_data__instagram_analysis_spark.session import enable_bench_tuning, get_spark

    enable_bench_tuning()
    spark = get_spark("abab")
    spark.sparkContext.setLogLevel("ERROR")
    fn = __spark_entry__.queries()[query]
    for cmd in sys.stdin:
        t0 = time.perf_counter()
        pdf = fn(spark, sf_dir).toPandas()
        dt = time.perf_counter() - t0
        if cmd.strip() == "warm":
            pdf.to_pickle(result_path)
        print(round(dt, 3), file=reply)
    spark.stop()


# -- driver side ---------------------------------------------------------------
def git(*args: str, check: bool = True) -> str:
    return subprocess.run(
        ["git", "-C", ROOT, *args], check=check, stdout=subprocess.PIPE, text=True
    ).stdout.strip()


class Side:
    """One ref: its worktree and the worker process running in it."""

    def __init__(self, label: str, ref: str, tmp: str):
        self.ref = ref
        self.commit = git("rev-parse", "--verify", f"{ref}^{{commit}}")
        self.tree = os.path.join(tmp, label)
        self.result_path = os.path.join(tmp, f"{label}.pkl")
        self.proc = None
        git("worktree", "add", "--detach", "--quiet", self.tree, self.commit)

    def start(self, query: str, sf_dir: str) -> None:
        env = dict(
            os.environ,
            PYTHONPATH=self.tree,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_DRIVER_MEMORY="1g",
        )
        boot = _WORKER.format(tools=os.path.join(ROOT, "tools"))
        self.proc = subprocess.Popen(
            [sys.executable, "-c", boot, query, sf_dir, self.result_path],
            cwd=self.tree,
            env=env,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def run(self, cmd: str) -> float:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"worker for {self.ref} exited with {self.proc.wait()}")
        return float(line)

    def close(self) -> None:
        if self.proc is not None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=120)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        git("worktree", "remove", "--force", self.tree, check=False)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="ABAB-compare one query at two git refs.")
    ap.add_argument("query")
    ap.add_argument("ref_a")
    ap.add_argument("ref_b")
    ap.add_argument("--sf", default=None, help="fixture directory (default: sf0.1)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import pandas as pd

    from big_data__instagram_analysis_spark import io, oracle

    sf_dir = os.path.abspath(args.sf or os.path.join(os.path.dirname(io.DEFAULT_SF_DIR), "sf0.1"))
    tmp = tempfile.mkdtemp(prefix="abab-", dir="/tmp")
    sides: dict[str, Side] = {}
    try:
        for label, ref in (("A", args.ref_a), ("B", args.ref_b)):
            sides[label] = Side(label, ref, tmp)
        for side in sides.values():
            side.start(args.query, sf_dir)
        for side in sides.values():
            side.run("warm")
        rows = {k: oracle.canonical_rows(pd.read_pickle(s.result_path)) for k, s in sides.items()}
        if rows["A"] != rows["B"]:
            print(f"abab: {args.query} results differ between {args.ref_a} and {args.ref_b}",
                  file=sys.stderr)
            return 1
        times: dict[str, list[float]] = {"A": [], "B": []}
        for pair in range(PAIRS):
            for label in pair_order(pair):
                times[label].append(sides[label].run("rep"))
    finally:
        for side in sides.values():
            side.close()
        shutil.rmtree(tmp, ignore_errors=True)

    out = summarize(times["A"], times["B"])
    out["a"] = {"ref": args.ref_a, "commit": sides["A"].commit, **out["a"]}
    out["b"] = {"ref": args.ref_b, "commit": sides["B"].commit, **out["b"]}
    print(json.dumps({"query": args.query, "sf": sf_dir, "rows": len(rows["A"][1]), **out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
