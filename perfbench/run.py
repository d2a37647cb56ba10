"""Benchmark of ``filter_job``, end to end and layer by layer.

    python3 perfbench/run.py --workload fresh_b1 --seed 1 --seconds 45 --trace 0

Runs from the root of a source tree.  Generates the workload input from
``--seed``, runs ``python -m languagedetection_spark.jobs.filter_job`` (through
``launch.py``) as a subprocess on ``local[nproc]``, one job at a time, for
``--seconds``, checks every job's output against the reference oracle, and
prints each metric as ``name value unit``, a ``run_info`` line, and, last,
one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list
(medians over the jobs of the run); with ``--trace 1`` they are its
``per_layer`` list, from one traced job, the probes in ``probes.py`` and
one untraced job for the tracing overhead.  See README.md.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_BUDGET_S = 172    # every job is killed by then; the run must end < 180 s

WORKLOADS = {
    # one scan, one lineage pass: the kernel and the Arrow boundary
    "fresh_b1": {"n_convs": 4000, "dup_share": 0.0, "dedup": False,
                 "args": ["--buckets", "1"]},
    # 16 rescans, dedup per bucket, lineage re-reads and both exports
    "full_b16": {"n_convs": 2000, "dup_share": 0.25, "dedup": True,
                 "args": ["--buckets", "16", "--dedup", "exact",
                          "--conv-report", "{it}/conv_report",
                          "--bucketed-table", "kept_turns",
                          "--warehouse-dir", "{it}/warehouse"]},
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- process tree ------------------------------------------------------------

def _parents() -> dict[int, int]:
    """pid -> ppid for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    return out


def _pss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of *root* and all its descendants.
    Python workers are forked from one daemon and share most pages with
    it; summing their RSS would count those pages once per worker."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_kib(pid)
        todo.extend(kids.get(pid, ()))
    return total * 1024


def _pids_with_token(token: str) -> list[int]:
    needle = f"PERFBENCH_TOKEN={token}".encode()
    found = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) != os.getpid():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if needle in f.read():
                        found.append(int(d))
            except OSError:
                pass
    return found


def reap(token: str, timeout: float = 20.0) -> None:
    """Kill every process started with this token and wait until all are
    gone (the JVM's Python daemon leaves the job's process group)."""
    end = time.time() + timeout
    while True:
        pids = _pids_with_token(token)
        if not pids:
            return
        if time.time() > end:
            raise RuntimeError(f"processes {pids} did not exit")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


class MemorySampler(threading.Thread):
    def __init__(self, pid: int, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.pid))
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


# -- one job -----------------------------------------------------------------

def clear_tmp() -> None:
    """Delete what earlier jobs left in the shared temp dir (native
    libraries the JVM unpacks, Spark scratch dirs); keep the package zip
    that ``ship_package`` reuses."""
    tmp = os.path.join(WORK, "tmp")
    if os.path.isdir(tmp):
        for name in os.listdir(tmp):
            if not name.endswith(".zip"):
                path = os.path.join(tmp, name)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)


def job_env(token: str, extra_conf: dict[str, str] | None = None) -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    submit = " ".join(f"--conf '{k}={v}'" for k, v in (extra_conf or {}).items())
    env = dict(os.environ)
    env.update({
        # keep every JVM's scratch files inside the tree, and write no
        # /tmp/hsperfdata_* files
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "SPARK_GRAFT_CPUS": str(nproc()),
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
        "PERFBENCH_TOKEN": token,
    })
    return env


def run_tree(cmd: list[str], cwd: str, log_path: str, deadline: float,
             extra_conf: dict[str, str] | None = None) -> dict:
    """Run *cmd* in its own session until it exits or *deadline*, sampling
    its process tree's memory; then stop every process it started."""
    token = uuid.uuid4().hex
    with open(log_path, "w") as log:
        t_launch = time.time()
        proc = subprocess.Popen(cmd, cwd=cwd, env=job_env(token, extra_conf),
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = MemorySampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        t_end = time.time()
        peak = sampler.stop()
        reap(token)
        if rc is None:
            proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
    return {"rc": rc, "wall": t_end - t_launch, "t_launch": t_launch,
            "t_end": t_end, "peak_rss_mb": peak / 2**20}


def run_job(meta: dict, workload: str, it_dir: str, deadline: float,
            traced: bool = False) -> dict:
    """One filter_job process, timed from launch to exit, then checked."""
    from inputs import check_output, read_parquet_files

    shutil.rmtree(it_dir, ignore_errors=True)
    os.makedirs(it_dir)
    job_args = [a.format(it=it_dir) for a in WORKLOADS[workload]["args"]]
    cmd = [sys.executable, os.path.join(HERE, "launch.py"),
           "--marks", os.path.join(it_dir, "marks.json")]
    extra_conf = None
    if traced:
        events = os.path.join(it_dir, "events")
        os.makedirs(events)
        cmd += ["--spans", os.path.join(it_dir, "spans.json")]
        extra_conf = {"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{events}",
                      "spark.eventLog.compress": "false"}
    out = os.path.join(it_dir, "out")
    cmd += ["--", "--input", meta["input"], "--output", out,
            "--checkpoint", os.path.join(it_dir, "ckpt"), *job_args]
    res = run_tree(cmd, it_dir, os.path.join(it_dir, "job.log"), deadline,
                   extra_conf)
    res["dir"] = it_dir
    marks_path = os.path.join(it_dir, "marks.json")
    if os.path.exists(marks_path):
        with open(marks_path) as f:
            res["marks"] = json.load(f)
    if res["rc"] != 0 or "input_call" not in res.get("marks", {}):
        res["errors"] = meta["expected_turns"]
        return res
    res["setup_s"] = res["marks"]["input_call"] - res["t_launch"]
    check = check_output(out, meta)
    if WORKLOADS[workload]["dedup"]:
        convs = read_parquet_files(os.path.join(it_dir, "conv_report")).num_rows
        kept = read_parquet_files(
            os.path.join(it_dir, "warehouse", "kept_turns")).num_rows
        check["conv_report_mismatch"] = abs(convs - meta["expected_convs"])
        check["bucketed_table_mismatch"] = abs(kept - meta["expected_kept"])
        check["errors"] += (check["conv_report_mismatch"]
                            + check["bucketed_table_mismatch"])
    if check["errors"]:
        print(f"output check of {it_dir}: {check}", file=sys.stderr)
    res["errors"] = min(check["errors"], meta["expected_turns"])
    return res


# -- end-to-end run ------------------------------------------------------------

def measure(meta: dict, workload: str, seconds: float, deadline: float) -> dict:
    """Whole jobs, one after another, while the next is expected to end
    within ``seconds``; at least one."""
    jobs: list[dict] = []
    t0 = time.time()
    while not jobs or (time.time() - t0 + jobs[-1]["wall"] <= seconds
                       and time.time() + jobs[-1]["wall"] < deadline):
        job = run_job(meta, workload, os.path.join(WORK, f"run-{os.getpid()}",
                                                   f"it{len(jobs)}"), deadline)
        jobs.append(job)
        shutil.rmtree(job["dir"], ignore_errors=True)
        if job["rc"] != 0:
            break
    ok = [j for j in jobs if j["rc"] == 0 and "setup_s" in j]
    turns = meta["turns"]
    metrics = {}
    if ok:
        metrics = {
            "turns_per_s": statistics.median(turns / j["wall"] for j in ok),
            "process_turns_per_s": statistics.median(
                turns / (j["wall"] - j["setup_s"]) for j in ok),
            "setup_s": statistics.median(j["setup_s"] for j in ok),
        }
    failed = sum(j["errors"] for j in jobs)
    attempted = meta["expected_turns"] * len(jobs)
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "ok": len(ok) == len(jobs),
            "walls": [round(j["wall"], 3) for j in jobs],
            "peaks_mb": [round(j["peak_rss_mb"], 1) for j in jobs]}


# -- traced run ----------------------------------------------------------------

def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def read_event_log(events_dir: str) -> dict[str, dict]:
    """Spark jobs, tasks and scanned bytes per job group, from the event
    log.  Scanned bytes are the scans' "size of files read" SQL metric."""
    events = []
    # Spark 4 writes a rolling log: a directory of events_* files
    for r, _d, fs in os.walk(events_dir):
        for name in sorted(f for f in fs if f.startswith("events_")):
            with open(os.path.join(r, name)) as f:
                events.extend(json.loads(line) for line in f)
    metric_name: dict[int, str] = {}

    def plan_metrics(info: dict) -> None:
        for m in info.get("metrics", []):
            metric_name[m["accumulatorId"]] = m["name"]
        for child in info.get("children", []):
            plan_metrics(child)

    per: dict[str, dict] = collections.defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "scanned": 0})
    stage_group: dict[int, str] = {}
    exec_group: dict[str, str] = {}
    for ev in events:
        if "sparkPlanInfo" in ev:
            plan_metrics(ev["sparkPlanInfo"])
        elif ev["Event"] == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id", "none")
            exec_group.setdefault(props.get("spark.sql.execution.id"), group)
            per[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif ev["Event"] == "SparkListenerTaskEnd":
            per[stage_group.get(ev["Stage ID"], "none")]["tasks"] += 1
    for ev in events:
        if ev["Event"].endswith("SparkListenerDriverAccumUpdates"):
            group = exec_group.get(str(ev["executionId"]), "none")
            per[group]["scanned"] += sum(
                v for acc, v in ev["accumUpdates"]
                if metric_name.get(acc) == "size of files read")
    return per


def span_metrics(job: dict, meta: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics from one traced job, and its per-span table."""
    with open(os.path.join(job["dir"], "spans.json")) as f:
        spans = json.load(f)["spans"]
    groups = read_event_log(os.path.join(job["dir"], "events"))

    def total(name: str) -> float:
        return sum(_dur(s) for s in spans if s["name"] == name)

    def count(name: str) -> int:
        return sum(1 for s in spans if s["name"] == name)

    session = next(s for s in spans if s["name"] == "session.start")
    launch_s = session["start"] - job["t_launch"]
    exit_s = job["t_end"] - job["marks"]["main_return"]
    top = sum(_dur(s) for s in spans if s["parent"] is None)
    out_dir = os.path.join(job["dir"], "out")
    out_files = [os.path.join(r, f) for r, _d, fs in os.walk(out_dir)
                 for f in fs if f.endswith(".parquet")]
    metrics = {
        "proc.launch_s": launch_s,
        "session.start_s": _dur(session),
        "model.build_s": total("model.build"),
        "model.fingerprint_s": total("model.fingerprint"),
        "model.broadcast_s": total("model.broadcast"),
        "bucket.count": count("progress.commit"),
        "bucket.write_s": total("bucket.write"),
        "lineage.s": total("lineage"),
        "progress.commit_s": total("progress.commit"),
        "export.conv_report_s": total("export.conv_report"),
        "export.bucketed_table_s": total("export.bucketed_table"),
        "sink.files": len(out_files),
        "sink.out_bytes_per_in_byte":
            sum(os.path.getsize(p) for p in out_files) / meta["bytes"],
        "scan.read_amp":
            sum(g["scanned"] for g in groups.values()) / meta["bytes"],
        "spark.jobs": sum(g["jobs"] for g in groups.values()),
        "spark.tasks": sum(g["tasks"] for g in groups.values()),
        "trace.unattributed_s": job["wall"] - (launch_s + top + exit_s),
    }
    children: dict = {}
    for s in spans:
        children[s["parent"]] = children.get(s["parent"], 0.0) + _dur(s)
    rows: dict[str, list] = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += _dur(s)
        r[2] += _dur(s) - children.get(s["id"], 0.0)
    table = [f"{'span':24} {'n':>4} {'total_s':>9} {'self_s':>9} "
             f"{'jobs':>5} {'tasks':>6} {'MB_scan':>8}",
             f"{'proc.launch':24} {1:4d} {launch_s:9.3f} {launch_s:9.3f}",
             f"{'proc.exit':24} {1:4d} {exit_s:9.3f} {exit_s:9.3f}"]
    for name, (n, tot, self_s) in rows.items():
        g = groups[name]
        table.append(f"{name:24} {n:4d} {tot:9.3f} {self_s:9.3f} "
                     f"{g['jobs']:5d} {g['tasks']:6d} "
                     f"{g['scanned'] / 2**20:8.2f}")
    return metrics, table


def trace(meta: dict, workload: str, deadline: float) -> dict:
    """One untraced job, one traced job, the Spark probes and the kernel
    breakdown.  The per-layer metrics of all four."""
    import pyarrow.parquet as pq

    from inputs import stream_input
    from probes import kernel_breakdown

    base = os.path.join(WORK, f"run-{os.getpid()}")
    plain = run_job(meta, workload, os.path.join(base, "plain"), deadline)
    job = run_job(meta, workload, os.path.join(base, "traced"), deadline,
                  traced=True)
    attempted = 2 * meta["expected_turns"]
    failed = plain["errors"] + job["errors"]
    metrics: dict = {}
    table: list[str] = []
    if job["rc"] == 0 and plain["rc"] == 0:
        metrics, table = span_metrics(job, meta)
        metrics["trace.overhead_s"] = job["wall"] - plain["wall"]
        metrics["peak_rss_mb"] = plain["peak_rss_mb"]

    probes_out = os.path.join(base, "probes.json")
    rc = run_tree([sys.executable, os.path.join(HERE, "probes.py"),
                   "--input", meta["input"], "--stream-input", stream_input(meta),
                   "--work", os.path.join(base, "probes"), "--out", probes_out],
                  base, os.path.join(base, "probes.log"), deadline)["rc"]
    attempted += 2 * meta["turns"]
    if rc == 0:
        with open(probes_out) as f:
            probes = json.load(f)
        failed += probes["_stream_errors"] + probes["_resume_errors"]
        metrics.update({k: v for k, v in probes.items()
                        if not k.startswith("_")})
    else:
        failed += 2 * meta["turns"]

    metrics.update(kernel_breakdown(pq.read_table(meta["input"])))
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "ok": rc == 0 and job["rc"] == 0 and plain["rc"] == 0,
            "table": table,
            "walls": [round(plain["wall"], 3), round(job["wall"], 3)],
            "peaks_mb": [round(plain["peak_rss_mb"], 1)]}


# -- run record ------------------------------------------------------------------

def estimated_splits(file_sizes: list[int], parallelism: int) -> int:
    """Spark's FilePartition packing with default conf (128 MiB max
    partition bytes, 4 MiB open cost), for splittable files."""
    open_cost, max_bytes = 4 << 20, 128 << 20
    per_core = (sum(file_sizes) + open_cost * len(file_sizes)) // parallelism
    split = min(max_bytes, max(open_cost, per_core))
    pieces = sorted((min(split, size - off) for size in file_sizes
                     for off in range(0, size, split)),
                    reverse=True)
    parts, cur = 0, 0
    for p in pieces:
        if cur > 0 and cur + p > split:
            parts, cur = parts + 1, 0
        cur += p + open_cost
    return parts + (cur > 0)


def run_info(meta: dict, seed: int, workload: str, load_start) -> dict:
    import pyspark

    from inputs import code_hash

    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                          capture_output=True, text=True)
    in_files = [os.path.join(meta["input"], f)
                for f in sorted(os.listdir(meta["input"]))]
    sizes = [os.path.getsize(p) for p in in_files]
    return {
        "workload": workload, "seed": seed, "nproc": nproc(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": (java.stderr.splitlines() or ["?"])[0],
        "code": code_hash(ROOT),
        "input": {k: meta[k] for k in (
            "turns", "bytes", "files", "distinct_text_share",
            "injected_dup_share", "expected_turns")}
        | {"splits": estimated_splits(sizes, nproc())},
    }


def declared_metrics() -> dict[str, list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--n-convs", type=int, default=None,
                   help="input size override (the benchmark's own tests)")
    args = p.parse_args(argv)
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S
    load_start = os.getloadavg()

    if not os.path.isdir(os.path.join(ROOT, "languagedetection_spark")):
        print(f"no languagedetection_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from inputs import prepare

    clear_tmp()
    wl = WORKLOADS[args.workload]
    meta = prepare(os.path.join(WORK, "inputs"), args.workload, args.seed,
                   args.n_convs or wl["n_convs"], wl["dup_share"], wl["dedup"],
                   workers=nproc())
    try:
        if args.trace:
            res = trace(meta, args.workload, deadline)
        else:
            res = measure(meta, args.workload, args.seconds, deadline)
    finally:
        shutil.rmtree(os.path.join(WORK, f"run-{os.getpid()}"),
                      ignore_errors=True)
    declared = declared_metrics()["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in declared:
        if m["name"] in res["metrics"]:
            metrics[m["name"]] = {"value": res["metrics"][m["name"]],
                                  "unit": m["unit"]}
    missing = [m["name"] for m in declared if m["name"] not in metrics]

    for line in res.get("table", []):
        print(line)
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"error_share {res['failed'] / res['attempted']:.6g} turns/turn "
          f"({res['failed']} of {res['attempted']})")
    if missing:
        print(f"missing metrics: {missing}", file=sys.stderr)
    info = run_info(meta, args.seed, args.workload, load_start)
    info.update(job_walls=res["walls"], job_peaks_mb=res["peaks_mb"],
                run_s=time.time() - t_start)
    print(json.dumps({"run_info": info}))
    print(json.dumps({
        "correct": res["ok"] and res["failed"] == 0 and not missing,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
