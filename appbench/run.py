"""Run one benchmark workload and print its metrics.

    python3 appbench/run.py --workload appeals_reports --seed 1 --seconds 25 --trace 0

Run from the repository root (any checkout of it). Steps:

1. Derive the seeded inputs from the committed base layout into
   ``.benchwork/`` (see datagen.py, ingest.py) and the DuckDB expected answers for every query the
   workload runs (cached per seed and oracle text).
2. Start a fresh worker process (worker.py) with the repository on the
   Python workers' path, local dirs under ``.benchwork/`` and
   ``local[<nproc>]``. Set-up time is measured from the spawn to the
   worker's first catalog read, once per worker.
3. The worker runs one cold pass over the workload, then whole warm
   passes while the next one is expected to end within ``--seconds``,
   checking every result against its oracle.
4. Print a detail line (per-query samples, failures, environment) and,
   last, the result line: ``{"correct", "attempted", "failed",
   "metrics"}`` with the end-to-end metrics (``--trace 0``) or the
   per-layer metrics (``--trace 1``).

Exits 2 without a result line when the repository's package is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".benchwork")
WORKER_TIMEOUT_S = 170

sys.path.insert(0, HERE)
import workloads as W  # noqa: E402

_TABLE_RE = re.compile(
    r"\b(region|nation|customer|supplier|part|orders|lineitem|events|documents|embeddings)\b"
)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    return a


def _check_repo() -> None:
    for rel in ("appeals_data_spark/registry.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.stderr.write(f"appbench: {rel} not found under {ROOT}; run from a checkout\n")
            sys.exit(2)


def _code_tag() -> str:
    """Fingerprint of the files that shape the inputs, so cached inputs
    and expected answers never outlive a change to them."""
    h = hashlib.sha256()
    base = sorted(os.path.join("base", n) for n in os.listdir(os.path.join(HERE, "base")))
    for name in ["datagen.py", "ingest.py", "workloads.py", *base]:
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def prepare(workload: str, seed: int) -> dict:
    """Inputs and expected answers for one run; nothing here is timed."""
    import pyarrow.parquet as pq

    import datagen
    import oracle
    from appeals_data_spark.registry import all_queries

    code = _code_tag()
    data = os.path.join(WORK, f"variant-{code}-seed{seed}")
    variant = None
    if not os.path.exists(os.path.join(data, "DONE")):
        variant = datagen.variant_tables(datagen.base_tables(), seed)
        datagen.build_once(data, lambda d: datagen.write_tables(variant, d))

    qs = all_queries()
    names = W.WORKLOADS[workload]
    cache = os.path.join(WORK, "oracle")
    tables = {
        n[: -len(".parquet")]: os.path.join(data, n)
        for n in os.listdir(data)
        if n.endswith(".parquet")
    }
    ctx = {
        "workload": workload,
        "seed": seed,
        "data": data,
        "data_files": datagen.count_files(data),
        "sf": datagen.BASE_SF,
        "names": names,
    }
    tag = f"{code}-seed{seed}"
    if workload != "ingest_refresh":
        con = oracle.connect(tables)
        ctx["expected"] = {
            n: oracle.cached(cache, tag, qs[n].oracle, lambda n=n: oracle.run_oracle(con, qs[n].oracle))
            for n in names
        }
        return ctx

    import ingest

    if variant is None:
        variant = {t: pq.read_table(p) for t, p in tables.items()}
    src = os.path.join(WORK, f"ingest-{code}-seed{seed}")
    states = ingest.prepare(variant, seed, src)
    exp = []
    for c, st in enumerate(states):
        con = oracle.connect({**tables, **st})
        exp.append({
            n: oracle.cached(
                cache, f"{tag}-ingest-commit{c}", qs[n].oracle,
                lambda n=n, con=con: oracle.run_oracle(con, qs[n].oracle),
            )
            for n in names
        })
    final = oracle.connect({**tables, "events": states[-1]["events"]})
    sink_sql = qs["stream_event_union"].oracle
    ctx.update(
        ingest_src=src,
        expected=exp,
        sink_expected=oracle.cached(
            cache, f"{tag}-ingest-sink", sink_sql, lambda: oracle.run_oracle(final, sink_sql)
        ),
        read_tables={n: sorted(set(_TABLE_RE.findall(qs[n].oracle)) & {"events", "orders"}) for n in names},
    )
    return ctx


def _worker_env(run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p]),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEMORY="2g",
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms2g' "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "--conf spark.sql.ui.retainedExecutions=100000 pyspark-shell"
        ),
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Wait for the worker and everything it started (JVM, Python
    workers) to end; kill the process group if it outlives the worker
    by more than a few seconds."""
    pgid = proc.pid
    if proc.poll() is None:
        os.killpg(pgid, signal.SIGKILL)
    proc.wait()
    deadline = time.monotonic() + 15
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            deadline = time.monotonic() + 15
        time.sleep(0.1)


def run_worker(ctx: dict, seconds: int, trace: int) -> tuple[float, dict]:
    """Spawn the worker; return (setup seconds, its result dict)."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = dict(ctx, seconds=seconds, trace=trace, run_dir=run_dir, root=ROOT,
                out=os.path.join(run_dir, "result.json"))
    plan_path = os.path.join(run_dir, "plan.pkl")
    with open(plan_path, "wb") as f:
        pickle.dump(plan, f)
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), plan_path],
        cwd=run_dir, env=_worker_env(run_dir), stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    watchdog = threading.Timer(WORKER_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    setup = None
    try:
        for line in proc.stdout:
            if line.startswith("READY") and setup is None:
                setup = time.perf_counter() - t0
        proc.wait()
    finally:
        watchdog.cancel()
        _stop_group(proc)
    if proc.returncode != 0 or setup is None:
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    with open(plan["out"]) as f:
        result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return setup, result


def main(argv=None) -> int:
    a = _args(argv)
    _check_repo()
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    ctx = prepare(a.workload, a.seed)
    setup, res = run_worker(ctx, a.seconds, a.trace)
    e2e = dict(res["e2e"], setup_s=setup)
    detail = {k: v for k, v in res.items() if k not in ("e2e", "layer")}
    print(json.dumps({"detail": detail}, default=str))
    metrics = e2e if a.trace == 0 else res["layer"]
    units = {m["name"]: m["unit"] for m in _bench_metrics(a.trace)}
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(out))
    return 0


def _bench_metrics(trace: int) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


if __name__ == "__main__":
    sys.exit(main())
