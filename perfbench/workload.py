"""One benchmark run of one workload, in the child process run.py starts.

run.py prepares a fresh run directory (working directory, ``RS_ART_ROOT``,
``SPARK_LOCAL_DIRS``, ``PYTHONPATH``, Spark launch arguments) and watches
this process.  This process writes one JSON event per line to ``--events``
as it goes, so a run the parent has to kill is still accounted for:

- ``script``: how many warm and timed ops the run will attempt;
- ``op``: one finished op (phase ``warm`` or ``timed``, latency, error);
- ``mark``: a named instant (``timed_start``, ``timed_end``);
- ``check``: the output check of one op, made after the timed phase so
  that checking costs neither ``setup_s`` nor throughput;
- ``layers``: the per-layer metrics of a traced run.

Every op comes from a script fixed by ``--seed``; ``--seconds`` only sets
how many passes (or requests) the script holds, so two runs with the same
arguments do identical work.
"""

from __future__ import annotations

import argparse
import http.client
import importlib.util
import json
import random
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

# The batch workload's ops, each with its fixture scale.  All have DuckDB
# oracles and small outputs, so the warm pass's toPandas and canon stay
# cheap.  A run should stay near a minute, setup included, and it spends
# about 40 s on session start, first-call compilation and artifact builds
# before its first timed op; that leaves room for about eight ops.
#
# OLAP: TPC-H aggregate and join queries and an events cohort query at
# sf0.1, execute-dominated, no Python workers.
OLAP_OPS = ["tpch_q1", "tpch_q3", "tpch_q18", "events_retention"]
# LLM pipeline at sf0.01, where time goes to driver-side eager jobs,
# checkpoint loops and Arrow UDFs: dedup_cluster's connected-components
# loop, simhash dedup, vector kNN and a pandas UDF.  Ops whose first call
# builds a large artifact (the minhash and LSH pair tables; the co-purchase
# edge set behind graph_bfs_distances) are left out: that build would set
# every run's setup time.  dedup_cluster's own pair table takes about 10 s
# to build at sf0.01 and minutes at sf0.1, hence the smaller scale.
LLM_OPS = ["dedup_cluster", "dedup_simhash", "sim_knn_join", "udf_scalar_pandas"]
BATCH_OPS = [(q, "sf0.1") for q in OLAP_OPS] + [(q, "sf0.01") for q in LLM_OPS]
# --seconds per timed pass over BATCH_OPS (a pass takes about 10 s on 4
# cores; the setup above takes the rest of a minute)
BATCH_PASS_S = 20.0
REC_SCALE = "sf0.01"
# rec_serving: requests per nominal second, and the route mix
REC_REQUESTS_PER_S = 0.4
REC_MIX = (("top", 0.60), ("item", 0.25), ("post", 0.15))
# The POST first, so that every later read merges a non-empty append log,
# the plan shape it keeps for the rest of the run; then one read of each
# kind, which first-call compilation makes two to three times slower.
REC_WARM = ["post", "item", "top"]
TOP_COUNT = 10
POST_ROWS = 3
ZIPF_S = 1.1


class Events:
    """Append-only JSON-lines event sink, flushed per event."""

    def __init__(self, path: str):
        self._fh = open(path, "a", buffering=1)
        self._lock = threading.Lock()

    def emit(self, ev: str, **fields) -> None:
        with self._lock:
            self._fh.write(json.dumps({"ev": ev, **fields}) + "\n")

    def close(self) -> None:
        self._fh.close()


class Tracer:
    """In-memory spans (name, start, end, parent, op) for a traced run;
    a no-op when tracing is off.  Each span also tags the Spark jobs it
    starts with a job group named after it, so the event log can be
    attributed span by span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "op": op,
            "group": group,
            "parent": stack[-1]["id"] if stack else None,
            "id": len(self.spans),
            "start": time.monotonic(),
        }
        self.spans.append(rec)
        stack.append(rec)
        if group is not None and self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            if group is not None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def total(self, name: str) -> float:
        return sum(self.durations(name))


def load_driver_canon(repo: Path):
    """``driver_canon`` of the repo's correctness mirror (tools/t2_mirror.py):
    the canonical form of a pandas result that oracle checks compare."""
    spec = importlib.util.spec_from_file_location(
        "t2_mirror", repo / "tools" / "t2_mirror.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.driver_canon


def oracle_canon(cache_dir: Path, sf_dir: str, qid: str, sql: str, driver_canon):
    """(sorted column names, canonical rows) of the DuckDB oracle for one op.

    Cached on disk by a digest of the SQL and of the fixture files' size and
    mtime: the oracle is the reference, not the program under test, and a
    recursive-CTE oracle such as dedup_cluster's takes over 20 s."""
    import hashlib

    import duckdb

    from recommend_spark.io import TABLES

    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = Path(f"{sf_dir}/{t}.parquet").stat()
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = cache_dir / f"{qid}-{h.hexdigest()[:16]}.json"
    if path.exists():
        cols, rows = json.loads(path.read_text())
        return cols, [tuple(r) for r in rows]
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        pdf = con.execute(sql).df()
    finally:
        con.close()
    cols, rows = sorted(pdf.columns), driver_canon(pdf)
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps([cols, rows]))
    tmp.replace(path)
    return cols, rows


# -- batch ----------------------------------------------------------------


def query_script(ops: list, seed: int, passes: int) -> list:
    rng = random.Random(seed)
    script: list = []
    for _ in range(passes):
        order = list(ops)
        rng.shuffle(order)
        script += order
    return script


def run_queries(spark, tracer, events, data, seed, passes, repo, cache_dir):
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from recommend_spark.queries import ORACLES, QUERIES

    warm_order = query_script(BATCH_OPS, seed, 1)
    script = query_script(BATCH_OPS, seed + 1, passes)
    events.emit("script", warm=len(warm_order), timed=len(script))

    warm_out = {}
    with tracer.span("queries.warm_pass"):
        for k, (qid, scale) in enumerate(warm_order):
            t0 = time.monotonic()
            try:
                with tracer.span("queries.warm_op", op=qid, group=f"warm:{qid}"):
                    warm_out[qid] = QUERIES[qid](spark, f"{data}/{scale}").toPandas()
                err = None
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                err = f"{type(e).__name__}: {e}"[:300]
            events.emit("op", phase="warm", i=k, id=qid, lat=time.monotonic() - t0, err=err)

    rows = {}
    events.emit("mark", name="timed_start", t=time.monotonic())
    for i, (qid, scale) in enumerate(script):
        t0 = time.monotonic()
        err = None
        try:
            with tracer.span("queries.build", op=qid, group=f"{i}:build"):
                df = QUERIES[qid](spark, f"{data}/{scale}")
            obs = Observation(f"rows_{i}")
            with tracer.span("queries.exec", op=qid, group=f"{i}:exec"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop"
                ).mode("overwrite").save()
            rows[i] = obs.get["n"]
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:300]
        events.emit("op", phase="timed", i=i, id=qid, lat=time.monotonic() - t0, err=err)
    events.emit("mark", name="timed_end", t=time.monotonic())

    # output checks: warm outputs against the DuckDB oracle, timed outputs'
    # row counts against the warm pass
    driver_canon = load_driver_canon(repo)
    for k, (qid, scale) in enumerate(warm_order):
        if qid not in warm_out:
            continue
        pdf = warm_out[qid]
        try:
            if qid in ORACLES:
                cols, want = oracle_canon(
                    cache_dir, f"{data}/{scale}", qid, ORACLES[qid], driver_canon
                )
                ok = sorted(pdf.columns) == cols and driver_canon(pdf) == want
            else:
                driver_canon(pdf)
                ok = True
            why = None if ok else "differs from the DuckDB oracle"
        except Exception as e:  # noqa: BLE001
            ok, why = False, f"{type(e).__name__}: {e}"[:300]
        events.emit("check", phase="warm", i=k, id=qid, ok=ok, why=why)
    for i, n in rows.items():
        qid = script[i][0]
        want = len(warm_out[qid]) if qid in warm_out else None
        events.emit(
            "check", phase="timed", i=i, id=qid, ok=n == want,
            why=None if n == want else f"{n} rows, warm pass had {want}",
        )
    return script


def query_layers(tracer, groups, script) -> dict:
    """Totals over the timed script, and per-op values keyed by op id."""
    from eventlog import task_skew

    spans = {s["group"]: s for s in tracer.spans if s["group"]}
    per_op: dict[str, list] = {}
    for i, (qid, _) in enumerate(script):
        entry = {}
        for phase in ("build", "exec"):
            g, sp = groups.get(f"{i}:{phase}", {}), spans[f"{i}:{phase}"]
            entry[f"{phase}_s"] = sp["end"] - sp["start"]
            entry.update({f"{phase}_{k}": v for k, v in g.items() if k != "stage_task_ms"})
        per_op.setdefault(qid, []).append(entry)
    execs = [e for runs in per_op.values() for e in runs]

    def tot(key):
        return sum(e.get(key, 0) for e in execs)

    stages = {}
    for i in range(len(script)):
        stages.update(groups.get(f"{i}:exec", {}).get("stage_task_ms", {}))
    return {
        "metrics": {
            "queries.warm_pass_s": tracer.total("queries.warm_pass"),
            "queries.build_s": tot("build_s"),
            "queries.build_jobs": tot("build_jobs"),
            "queries.exec_s": tot("exec_s"),
            "queries.exec_jobs": tot("exec_jobs"),
            "queries.exec_tasks": tot("exec_tasks"),
            "queries.exec_task_cpu_share": (
                tot("exec_cpu_ns") / 1e6 / tot("exec_run_ms") if tot("exec_run_ms") else 0.0
            ),
            "queries.exec_gc_s": tot("exec_gc_ms") / 1e3,
            "queries.exec_shuffle_read_mb": tot("exec_shuffle_read_b") / 2**20,
            "queries.exec_shuffle_write_mb": tot("exec_shuffle_write_b") / 2**20,
            "queries.exec_spill_mb": tot("exec_spill_b") / 2**20,
            "queries.exec_task_skew": task_skew(stages),
        },
        "per_op": per_op,
    }


# -- rec_serving ------------------------------------------------------------


def corpus_ids(sf_dir: str) -> tuple[list[int], list[int]]:
    """Users and items of the ratings corpus, read from parquet without
    Spark: the benchmark hands the program only generated requests."""
    users = pc.unique(pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_custkey"])["o_custkey"])
    items = pc.unique(pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_partkey"])["l_partkey"])
    return sorted(users.to_pylist()), sorted(items.to_pylist())


def rec_requests(rng: random.Random, kinds: list[str], users: list[int],
                 items: list[int]) -> list[dict]:
    """One request per entry of ``kinds``, users drawn Zipf-like over a
    seed-shuffled ranking so that some repeat."""
    ranked = list(users)
    rng.shuffle(ranked)
    weights = [1.0 / (k + 1) ** ZIPF_S for k in range(len(ranked))]
    out = []
    for kind in kinds:
        user = rng.choices(ranked, weights)[0]
        if kind == "top":
            out.append({"kind": kind, "user": user, "path": f"/{user}/ratings/top/{TOP_COUNT}"})
        elif kind == "item":
            item = rng.choice(items)
            out.append({"kind": kind, "user": user, "item": item, "path": f"/{user}/ratings/{item}"})
        else:
            body = [[rng.choice(items), float(rng.randint(1, 5))] for _ in range(POST_ROWS)]
            out.append({"kind": kind, "user": user, "body": body, "path": f"/{user}/ratings"})
    return out


def rec_script(seed: int, n: int, users: list[int], items: list[int]) -> list[dict]:
    """``n`` requests in the REC_MIX proportions, in seed-shuffled order."""
    rng = random.Random(seed)
    counts = {kind: max(1, round(share * n)) for kind, share in REC_MIX}
    counts["top"] = n - counts["item"] - counts["post"]
    kinds = [k for k, c in counts.items() for _ in range(c)]
    rng.shuffle(kinds)
    return rec_requests(rng, kinds, users, items)


def http_call(port: int, req: dict):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        if req["kind"] == "post":
            conn.request("POST", req["path"], body=json.dumps(req["body"]),
                         headers={"Content-Type": "application/json"})
        else:
            conn.request("GET", req["path"])
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


def check_response(req: dict, status: int, payload, seen: set) -> str | None:
    """None when the response is right, else why not.  ``seen`` holds the
    user's rated items, including those this client POSTed before."""
    if status != 200:
        return f"HTTP {status}: {payload}"
    if req["kind"] == "post":
        ok = isinstance(payload, dict) and payload.get("accepted") == len(req["body"])
        return None if ok else f"accepted {payload}, sent {len(req['body'])}"
    if not isinstance(payload, list):
        return f"not a list: {payload}"
    got = [r["item_id"] for r in payload]
    if req["kind"] == "item":
        return None if got == [req["item"]] else f"asked item {req['item']}, got {got}"
    scores = [r["score"] for r in payload]
    if len(got) > TOP_COUNT or len(set(got)) != len(got):
        return f"{len(got)} items, {len(set(got))} distinct"
    if scores != sorted(scores, reverse=True):
        return "scores not descending"
    if seen & set(got):
        return f"seen items recommended: {sorted(seen & set(got))[:5]}"
    return None


def run_serving(spark, tracer, events, sf_dir, seed, n_requests):
    import recommend_spark.serving as serving
    from recommend_spark.http_api import serve

    users, items = corpus_ids(sf_dir)
    warm = rec_requests(random.Random(seed), REC_WARM, users, items)
    script = rec_script(seed + 1, n_requests, users, items)
    events.emit("script", warm=len(warm), timed=len(script))

    with tracer.span("serving.fit"):
        svc = serving.RecommendationService(spark, sf_dir)
    if tracer.enabled:
        # spans around the service's three calls and around the fold-in
        # they reach; the job group follows the server's request thread
        n_call = [0]

        def wrap(name, fn, tag=True):
            def wrapped(*a, **kw):
                n_call[0] += 1
                group = f"{name}:{n_call[0]}" if tag else None
                with tracer.span(name, group=group):
                    return fn(*a, **kw)
            return wrapped

        for meth in ("top_ratings", "ratings_for_items", "add_ratings"):
            setattr(svc, meth, wrap(f"serving.{meth}", getattr(svc, meth)))
        serving.foldin_factors = wrap(
            "recommender.foldin_factors", serving.foldin_factors, tag=False
        )
    srv, port = serve(svc)
    wire: list[float] = []
    done = []

    def send(req, phase, i):
        t0 = time.monotonic()
        err = None
        try:
            status, payload = http_call(port, req)
        except Exception as e:  # noqa: BLE001
            status, payload, err = None, None, f"{type(e).__name__}: {e}"[:300]
        lat = time.monotonic() - t0
        events.emit("op", phase=phase, i=i, id=req["kind"], lat=lat, err=err,
                    read=req["kind"] != "post")
        if err is None:
            done.append((phase, i, req, status, payload))
        if tracer.enabled and phase == "timed" and err is None:
            # the handler runs the wrapped call on the server's thread;
            # its duration is published through the wrapper's last span
            last = [s for s in tracer.spans if s["name"].startswith("serving.")][-1]
            wire.append(lat - (last["end"] - last["start"]))

    try:
        for k, req in enumerate(warm):
            send(req, "warm", k)
        timed_start = time.monotonic()
        events.emit("mark", name="timed_start", t=timed_start)
        for i, req in enumerate(script):
            send(req, "timed", i)
        events.emit("mark", name="timed_end", t=time.monotonic())
    finally:
        srv.shutdown()
        srv.server_close()
    backlog = svc.pending_foldin_backlog

    # response checks, replaying the client's POSTs into each user's seen set
    seen = rated_items(sf_dir)
    for phase, i, req, status, payload in done:
        why = check_response(req, status, payload, seen.get(req["user"], set()))
        if req["kind"] == "post" and status == 200:
            seen.setdefault(req["user"], set()).update(int(it) for it, _ in req["body"])
        events.emit("check", phase=phase, i=i, id=req["kind"], ok=why is None, why=why)
    return script, backlog, wire, timed_start


def rated_items(sf_dir: str) -> dict[int, set]:
    o = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]).to_pandas()
    li = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]).to_pandas()
    pairs = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    return {int(u): set(g.astype(int)) for u, g in pairs.groupby("o_custkey")["l_partkey"]}


def serving_layers(tracer, groups, backlog, wire, timed_start) -> dict:
    """Per-call medians over the timed requests."""
    def med(name):
        d = tracer.durations(name, timed_start)
        return statistics.median(d) if d else 0.0

    read_spans = [s for s in tracer.spans if s["start"] >= timed_start and s["name"]
                  in ("serving.top_ratings", "serving.ratings_for_items")]
    reads = [groups.get(s["group"], {"jobs": 0}) for s in read_spans]
    n_reads = len(read_spans)
    return {
        "metrics": {
            "serving.fit_s": tracer.total("serving.fit"),
            "serving.top_ratings_s": med("serving.top_ratings"),
            "serving.ratings_for_items_s": med("serving.ratings_for_items"),
            "serving.add_ratings_s": med("serving.add_ratings"),
            "recommender.foldin_factors_s": med("recommender.foldin_factors"),
            "serving.jobs_per_read": (
                sum(g["jobs"] for g in reads) / n_reads if n_reads else 0.0
            ),
            "serving.backlog_rows": backlog,
            "http_api.wire_s": statistics.median(wire) if wire else 0.0,
        },
        "per_op": {},
    }


# -- main -------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("batch", "rec_serving"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--repo", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--eventlog", required=True)
    ap.add_argument("--oracle-cache", required=True)
    args = ap.parse_args()

    repo = Path(args.repo)
    sys.path.insert(0, str(repo))
    events = Events(args.events)
    tracer = Tracer(bool(args.trace))
    batch = args.workload == "batch"

    from recommend_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    layers = {"metrics": {}, "per_op": {}}
    try:
        if batch:
            passes = max(1, round(args.seconds / BATCH_PASS_S))
            script = run_queries(
                spark, tracer, events, args.data, args.seed, passes, repo,
                Path(args.oracle_cache),
            )
        else:
            n = max(len(REC_MIX), round(args.seconds * REC_REQUESTS_PER_S))
            script, backlog, wire, timed_start = run_serving(
                spark, tracer, events, f"{args.data}/{REC_SCALE}", args.seed, n
            )
    finally:
        spark.stop()

    if tracer.enabled:
        from eventlog import read_groups

        groups = read_groups(args.eventlog)
        if batch:
            layers = query_layers(tracer, groups, script)
        else:
            layers = serving_layers(tracer, groups, backlog, wire, timed_start)
        layers["metrics"]["session.start_s"] = tracer.total("session.start")
        layers["spans"] = tracer.spans
        events.emit("layers", **layers)
    events.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
