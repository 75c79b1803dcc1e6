"""The repository benchmark: two closed-loop workloads, one client each.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py          # every workload once; exit 1 on any failed check

Run it from the repository root.  Workloads (see BENCHMARK.json):

- ``batch``: a seed-shuffled script of oracle-backed ops, four OLAP ops at
  sf0.1 (TPC-H Q1, Q3, Q18 and an events cohort query; execute-dominated,
  no Python workers) and four LLM-pipeline ops at sf0.01 (dedup_cluster's
  connected components, simhash dedup, vector kNN, a pandas UDF; dominated
  by driver-side eager jobs, checkpoint loops and Arrow workers);
- ``rec_serving``: ``RecommendationService`` behind ``http_api.serve`` at
  sf0.01, 60% top-N reads, 25% single-item reads, 15% rating POSTs, users
  drawn Zipf-like.

Each run gets a fresh directory under ``.perfbench_state/runs`` holding the
engine's artifact root, Spark's local dirs, the working directory and the
event log; it is deleted when the run ends.  The workload itself runs in a
child process (``workload.py``) with a deadline, so a hang is reported as
failed ops rather than as a missing result.  The child's process tree is
sampled every 100 ms for resident memory and CPU time, and ``/proc/stat`` for
host noise (CPU steal and busy time outside the tree), which is recorded as
a flag only.  A record of every run, with per-op latencies, output checks,
host noise and, for ``--trace 1``, the spans and per-op Spark metrics, goes
to ``.perfbench_state/records``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables Spark's
event log, tags each op phase with a job group, and prints the per-layer
metrics instead, plus ``trace.ops_per_s``: its difference from the untraced
``ops_per_s`` is the tracing overhead.  A layer the workload does not reach
reports 0 and is listed in the record.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

DuckDB oracle answers are cached in ``.perfbench_state/oracle``, keyed by
the SQL and the fixture files: they are the reference, not the program
under test, and dedup_cluster's recursive-CTE oracle alone takes 20 s.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ("batch", "rec_serving")
DEADLINE_S = 165.0  # from process start; the result must be out by 180 s
DRIVER_MEM = "2g"
SAMPLE_S = 0.1
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def fixture_root(repo: Path) -> str:
    """The fixture directory TESTDATA.md documents, without its scale."""
    doc = repo / "TESTDATA.md"
    m = re.search(r"`([^`]+)/sf0\.1/?`", doc.read_text()) if doc.exists() else None
    if m is None or not Path(m.group(1), "sf0.1").is_dir():
        fail("no sf0.1 fixture directory (see TESTDATA.md)")
    return m.group(1)


# -- process tree sampling --------------------------------------------------


def proc_stat(pid: int):
    """(ppid, cpu jiffies incl. reaped children, rss bytes, name) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            head, tail = fh.read().rsplit(")", 1)
    except OSError:
        return None
    fields = tail.split()
    jiffies = sum(int(x) for x in fields[11:15])
    return int(fields[1]), jiffies, int(fields[21]) * PAGE, head.split("(", 1)[1]


def host_cpu() -> tuple[int, int]:
    """(busy jiffies excluding steal, steal jiffies) over all host CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = f[:8]
    return user + nice + system + irq + softirq, steal


class Sampler(threading.Thread):
    """Samples the child's process tree and the host CPU counters."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        # (time, host busy, host steal, tree cpu jiffies, tree rss, tree size)
        self.samples: list[tuple[float, int, int, int, int, int]] = []
        self.peak_rss = 0
        self.peak_procs: list[tuple[str, int]] = []
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def sample(self) -> None:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = proc_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, (ppid, *_) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree.append(pid)
                todo += kids.get(pid, [])
        self.seen.update(tree)
        rss = sum(stats[p][2] for p in tree)
        if rss > self.peak_rss:
            self.peak_rss = rss
            self.peak_procs = sorted(
                ((stats[p][3], round(stats[p][2] / 2**20)) for p in tree),
                key=lambda x: -x[1],
            )
        own = stats.get(os.getpid(), (0, 0, 0, ""))[1]
        busy, steal = host_cpu()
        self.samples.append(
            (time.monotonic(), busy, steal, own + sum(stats[p][1] for p in tree), rss, len(tree))
        )

    def run(self) -> None:
        while not self._halt.wait(SAMPLE_S):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def noise(self, start: float | None, end: float | None) -> dict | None:
        """Host noise over [start, end]: steal and busy time outside the
        benchmark's tree, in seconds and in average busy cores."""
        if start is None or end is None:
            return None
        before = [s for s in self.samples if s[0] <= start]
        after = [s for s in self.samples if s[0] >= end]
        if not before or not after:
            return None
        a, b = before[-1], after[0]
        span = b[0] - a[0]
        steal_s = (b[2] - a[2]) / CLK_TCK
        other_s = max(0.0, ((b[1] - a[1]) - (b[3] - a[3])) / CLK_TCK)
        return {
            "window_s": span,
            "steal_s": steal_s,
            "other_busy_s": other_s,
            "steal_cores": steal_s / span,
            "other_busy_cores": other_s / span,
            # a flag for the reader, never a reason to drop or re-run a run
            "contaminated": steal_s / span > 0.1 or other_s / span > 0.5,
        }


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    end = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < end:
        alive = {p for p in alive if proc_stat(p) is not None}
        if alive:
            time.sleep(0.05)
    return alive


def reap_tree(child: subprocess.Popen, sampler: Sampler) -> None:
    """Stop every process the run started and wait until each has ended.
    The Python worker daemon runs in its own process group, so the
    sampled tree, not the child's group, lists what to stop."""
    if child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    sampler.seen.discard(os.getpid())
    left = wait_gone(sampler.seen, 10.0)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    left = wait_gone(left, 10.0)
    if left:
        print(f"perfbench: processes still alive: {sorted(left)}", file=sys.stderr)


# -- one run ----------------------------------------------------------------


def child_env(run: Path, repo: Path, trace: int) -> dict:
    env = dict(os.environ)
    cpus = len(os.sched_getaffinity(0))
    for d in ("art", "local", "tmp", "work", "eventlog"):
        (run / d).mkdir()
    conf = [
        "spark.ui.showConsoleProgress=false",
        # a fixed heap (initial = max), as a server sets it: G1 otherwise
        # grows the heap by GC timing, and the driver's resident memory
        # varied by a third between identical runs
        f"spark.driver.defaultJavaOptions=-Xms{DRIVER_MEM}",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{run / 'eventlog'}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        RS_ART_ROOT=str(run / "art"),
        SPARK_LOCAL_DIRS=str(run / "local"),
        TMPDIR=str(run / "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run / 'tmp'} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (str(repo), env.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
        SPARK_GRAFT_CPUS=str(cpus),
        # session.py sizes shuffles for a 32-core host; 2x cores fits this one
        SPARK_GRAFT_SHUFFLE=str(2 * cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    return env


def read_events(path: Path) -> list[dict]:
    if not path.exists():
        return []
    out = []
    for line in path.read_text().splitlines():
        try:
            out.append(json.loads(line))
        except ValueError:
            pass  # a line torn by a kill
    return out


def summarize(events: list[dict], t_end: float) -> dict:
    script = next((e for e in events if e["ev"] == "script"), None)
    marks = {e["name"]: e["t"] for e in events if e["ev"] == "mark"}
    ops = [e for e in events if e["ev"] == "op"]
    checks = {(e["phase"], e["i"]): e for e in events if e["ev"] == "check"}
    timed = [e for e in ops if e["phase"] == "timed" and e["err"] is None]
    ok = [e for e in ops if e["err"] is None and checks.get((e["phase"], e["i"]), {}).get("ok")]
    attempted = script["warm"] + script["timed"] if script else 1
    start = marks.get("timed_start")
    end = marks.get("timed_end", t_end)
    lat = [e["lat"] for e in timed]
    reads = [e["lat"] for e in timed if e.get("read", True)]
    wall = end - start if start is not None else None
    return {
        "attempted": attempted,
        "failed": attempted - len(ok),
        "timed_start": start,
        "timed_end": end if start is not None else None,
        "metrics": {
            "setup_s": (start if start is not None else t_end) - T0,
            "ops_per_s": len(timed) / wall if wall else 0.0,
            "op_p50_s": statistics.median(lat) if lat else 0.0,
            "read_p50_s": statistics.median(reads) if reads else 0.0,
            "ok_share": len(ok) / attempted,
        },
        "failures": [
            {**e, "check": checks.get((e["phase"], e["i"]))}
            for e in ops
            if e not in ok
        ],
    }


def run_one(workload: str, seed: int, seconds: int, trace: int) -> int:
    repo = Path.cwd()
    if not (repo / "recommend_spark" / "__init__.py").exists():
        fail("run from the repository root: recommend_spark/ not found")
    if not (repo / "tools" / "t2_mirror.py").exists():
        fail("tools/t2_mirror.py (the output canon) not found")
    spec = json.loads((repo / "BENCHMARK.json").read_text())
    data = fixture_root(repo)
    state = repo / ".perfbench_state"
    (state / "runs").mkdir(parents=True, exist_ok=True)
    run = Path(tempfile.mkdtemp(prefix=f"{workload}-", dir=state / "runs"))
    try:
        env = child_env(run, repo, trace)
        events_path = run / "events.jsonl"
        cmd = [
            sys.executable, str(HERE / "workload.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--repo", str(repo), "--data", data,
            "--events", str(events_path), "--eventlog", str(run / "eventlog"),
            "--oracle-cache", str(state / "oracle"),
        ]
        with open(run / "child.log", "wb") as log:
            child = subprocess.Popen(
                cmd, cwd=run / "work", env=env, stdout=log, stderr=log,
                start_new_session=True,
            )
            sampler = Sampler(child.pid)
            sampler.sample()
            sampler.start()
            timed_out = False
            try:
                child.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - T0)))
            except subprocess.TimeoutExpired:
                timed_out = True
            t_end = time.monotonic()
            reap_tree(child, sampler)
            sampler.stop()
        events = read_events(events_path)
        s = summarize(events, t_end)
        s["metrics"]["peak_rss_mb"] = sampler.peak_rss / 2**20
        layers = next((e for e in events if e["ev"] == "layers"), None)
        correct = s["failed"] == 0 and child.returncode == 0 and not timed_out
        if trace:
            measured = dict(layers["metrics"]) if layers else {}
            measured["trace.ops_per_s"] = s["metrics"]["ops_per_s"]
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            correct = correct and layers is not None
        else:
            measured = s["metrics"]
            names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        # a layer this workload does not reach reports 0 (no calls)
        not_exercised = [n for n, _ in names if n not in measured]
        metrics = {n: {"value": measured.get(n, 0.0), "unit": u} for n, u in names}
        noise = sampler.noise(s["timed_start"], s["timed_end"])
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "correct": correct, "timed_out": timed_out, "exit_code": child.returncode,
            "attempted": s["attempted"], "failed": s["failed"],
            "metrics": metrics, "not_exercised": not_exercised,
            "host_noise": noise, "failures": s["failures"],
            "peak_rss_by_process_mb": sampler.peak_procs,
            "rss_mb": [(round(t - T0, 2), round(r / 2**20), n) for t, _, _, _, r, n in sampler.samples],
            "ops": [e for e in events if e["ev"] == "op"],
            "layers": layers,
        }
        if not correct:
            record["child_log_tail"] = (run / "child.log").read_text(errors="replace")[-4000:]
        (state / "records").mkdir(exist_ok=True)
        rec_path = state / "records" / f"{workload}-seed{seed}-trace{trace}-{int(time.time())}.json"
        rec_path.write_text(json.dumps(record, indent=1))
    finally:
        shutil.rmtree(run, ignore_errors=True)

    print(f"perfbench {workload} seed={seed} trace={trace}: "
          f"{s['attempted']} ops attempted, {s['failed']} failed")
    for name, m in metrics.items():
        print(f"  {name:34s} {m['value']:12.4f} {m['unit']}")
    if noise:
        print("  host noise over the timed phase: "
              f"steal {noise['steal_cores']:.3f} cores, "
              f"other busy {noise['other_busy_cores']:.3f} cores, "
              f"contaminated={noise['contaminated']}")
    for f in s["failures"][:5]:
        why = f["err"] or (f["check"] or {}).get("why") or "not checked: the run was cut short"
        print(f"  FAILED {f['phase']} {f['id']}: {why}")
    print(f"  record: {rec_path.relative_to(repo)}")
    print(json.dumps({
        "correct": correct, "attempted": s["attempted"], "failed": s["failed"],
        "metrics": metrics,
    }))
    return 0


def run_all(seed: int, seconds: int) -> int:
    """Every workload once, untraced, each in its own process."""
    bad = 0
    for w in WORKLOADS:
        out = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True,
        )
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        result = json.loads(lines[-1]) if out.returncode == 0 and lines else None
        if result is None or not result["correct"]:
            bad += 1
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload is None:
        return run_all(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, args.trace)


if __name__ == "__main__":
    raise SystemExit(main())
