#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, checked results.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles the engine and the JVM side
(perfbench/build.py, first run only), writes the workload's inputs from the
seed, drives the engine from one JVM at local[nproc] with one client thread,
checks every result against an independent DuckDB reference, and prints as
its last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
The line before it is a JSON detail record with the workload's own metrics by
name and unit (commit_latency_s.p50, feed_s.p50, suite_s, ...).

Workloads (closed loop, one client):
  tail_read    publish one small epoch, wait for its commit, read its change
               feed and one conversation; --seconds / 4 such cycles (at least
               3), then one compaction
  query_suite  one pass over SparkEntry.queries, oracle-checked

End-to-end metrics (--trace 0), the same names on every workload:
  setup_s    process start to the first timed op: session boot plus the
             median of the workload's set-up rounds
  op_s.p50   median time of the workload's unit of work: a tail cycle
             (publish to lookup done) or a query
  op_s.mean  mean of the same
Per-layer metrics (--trace 1) are listed in perfbench/METRICS.md. A traced
invocation first makes one untraced run of the same workload and seed, then
the traced run; trace.overhead_pct compares the two.

An op that throws, times out or mismatches the reference counts as failed and
gives no latency sample. Everything a run writes lives under
.perfbench/runs/<run> in the checkout and is removed on exit, on failure and
on SIGINT/SIGTERM.
"""
import argparse
import atexit
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402

STATE = CHECKOUT / ".perfbench"
# One invocation ends within RUN_TIMEOUT_S of the build. A traced invocation
# first measures an untraced baseline, which must end within BASELINE_TIMEOUT_S.
RUN_TIMEOUT_S = 170
BASELINE_TIMEOUT_S = 85
SETUP_ROUNDS = 3

# Workload sizes. "smoke" is the seconds-long size the self-tests use.
SIZES = {
    "full": {
        "tail_read": dict(events_per_epoch=20_000, files_per_epoch=2, num_convs=2_000,
                          max_turns=50, hot_share=0.30, p_delete=0.05, min_cycles=3),
        "query_suite": dict(data="sf0.01", queries=None),
    },
    "smoke": {
        "tail_read": dict(events_per_epoch=5_000, files_per_epoch=2, num_convs=200,
                          max_turns=50, hot_share=0.30, p_delete=0.05, min_cycles=1),
        "query_suite": dict(data="sf0.01", queries=5),
    },
}
# The query data is read-only: query_suite reads the fixed tables under
# perfbench/data/ (generated once with seed 42) in one fixed query order,
# whatever --seed says, so its runs differ only by noise.
DATA = HERE / "data"
NUM_BUCKETS = 64
TRIGGER_MS = 100
CYCLE_S = 4.0
OP_TIMEOUT_S = 60


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- work dir

class WorkDir:
    """The run's own temp root; removed however the run ends."""

    def __init__(self, workload):
        runs = STATE / "runs"
        runs.mkdir(parents=True, exist_ok=True)
        for stale in runs.iterdir():  # left by a run that was SIGKILLed
            pid = stale.name.rsplit("-", 1)[-1]
            if pid.isdigit() and not _alive(int(pid)):
                shutil.rmtree(stale, ignore_errors=True)
        self.path = runs / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        self.path.mkdir()
        self.proc = None
        atexit.register(self.close)
        for sig in (signal.SIGINT, signal.SIGTERM, signal.SIGHUP):
            signal.signal(sig, self._on_signal)

    def _on_signal(self, signum, _frame):
        self.close()
        os._exit(128 + signum)

    def close(self):
        if self.proc is not None and self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM)
                self.proc.wait(timeout=20)
            except (ProcessLookupError, subprocess.TimeoutExpired):
                try:
                    os.killpg(self.proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                self.proc.wait()
        shutil.rmtree(self.path, ignore_errors=True)


def _alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


# ----------------------------------------------------------------- JVM side

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(work, cfg, classpath, deadline):
    cfg_path = work.path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    tmp = work.path / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.GraftBench", str(cfg_path)]
    jvm_log = work.path / "jvm.log"
    with open(jvm_log, "w") as logf:
        work.proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                     cwd=work.path, start_new_session=True)
        try:
            rc = work.proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            work.close()
            raise SystemExit("perfbench: the JVM run did not finish in time")
    if rc != 0:
        sys.stderr.write(jvm_log.read_text()[-6000:])
        raise SystemExit(f"perfbench: the JVM run failed with exit code {rc}")
    return json.loads(Path(cfg["out"]).read_text())


# ---------------------------------------------------------------- workloads

def tail_cycles(seconds, size):
    """tail_read runs a fixed number of cycles, so every run does the same
    work on a table of the same size: --seconds / CYCLE_S, where CYCLE_S is
    one cycle on a 4-core host, and at least `min_cycles`."""
    return max(SIZES[size]["tail_read"]["min_cycles"], math.ceil(seconds / CYCLE_S))


def prepare(workload, seed, seconds, size, work):
    """Write the workload's inputs; returns the workload part of the config."""
    p = SIZES[size][workload]
    if workload == "tail_read":
        staging = work.path / "staging"
        gen.write_epochs(staging, seed, 1 + tail_cycles(seconds, size), p["events_per_epoch"],
                         p["files_per_epoch"], p["num_convs"], p["max_turns"],
                         p["hot_share"], p["p_delete"])
        rng = random.Random(seed)
        cold = [f"conv-{i}" for i in rng.sample(range(p["num_convs"]), 7)]
        return dict(staging_dir=str(staging),
                    events_per_epoch=p["events_per_epoch"],
                    files_per_epoch=p["files_per_epoch"],
                    lookup_ids=[gen.HOT_ID] + cold)
    data = DATA / p["data"]
    out = work.path / "results"
    out.mkdir()
    return dict(data_dir=str(data), out_dir=str(out), query_limit=p["queries"],
                warmup="q1_agg")


def check_tail(res, cfg, con, corrupt):
    """Mark each op ok/failed against the DuckDB reference."""
    ops = res["ops"]
    table = res["table_dir"]
    qid = res["stream_name"]
    staging = Path(cfg["staging_dir"])
    ref = reference.TailReference(con, staging / "e00000")
    by_epoch = {}
    for o in ops:
        by_epoch.setdefault(o.get("epoch"), []).append(o)
    last = max((o["epoch"] for o in ops if o["kind"] == "epoch"), default=0)
    for k in range(1, last + 1):
        edir = staging / f"e{k:05d}"
        feed_want = ref.advance(edir, corrupt and k == 1)
        for o in by_epoch.get(k, []):
            if not o["ok"]:
                continue
            if o["kind"] == "epoch":
                ok, why = reference.check_lineage(
                    con, edir, f"{table}/_lineage/q={qid}/e={k}")
                o["ok"], o["error"] = ok, ("" if ok else why)
            elif o["kind"] == "feed":
                _compare(o, feed_want)
            elif o["kind"] == "lookup":
                _compare(o, ref.lookup(o["conv_id"]))
    for o in ops:
        if o["kind"] == "compact" and o["ok"]:
            _compare(o, ref.state())


def _compare(o, want):
    got = (o.get("count"), o.get("fp"))
    if got != (want[0], want[1]):
        o["ok"] = False
        o["error"] = f"result {got} != reference {want}"


def check_queries(res, cfg, corrupt):
    """Oracle check with tools/validate_oracle.py, used unmodified."""
    out = Path(cfg["out_dir"])
    if corrupt:  # drop one expected row of the first query
        sql = json.loads((out / "oracle_sql.json").read_text())
        first = next(o["name"] for o in res["ops"] if o["kind"] == "query")
        sql[first] = (f"SELECT * FROM ({sql[first]}) EXCEPT ALL "
                      f"(SELECT * FROM ({sql[first]}) LIMIT 1)")
        (out / "oracle_sql.json").write_text(json.dumps(sql))
    r = subprocess.run([sys.executable, str(CHECKOUT / "tools" / "validate_oracle.py"),
                        cfg["data_dir"], str(out)], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, cwd=cfg["root"])
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"^(\S+)\s+(.*)$", line)
        if m:
            verdict[m.group(1)] = m.group(2)
    for o in res["ops"]:
        if o["kind"] == "query" and o["ok"]:
            v = verdict.get(o["name"], "no verdict from the oracle check")
            if not v.startswith("OK"):
                o["ok"], o["error"] = False, v


# ------------------------------------------------------------------ metrics

def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def units_of_work(workload, ops):
    """Latency samples of the workload's unit of work (ok ops only)."""
    if workload == "query_suite":
        return [o["s"] for o in ops if o["kind"] == "query" and o["ok"]]
    cycles = {}
    for o in ops:
        if o["kind"] in ("epoch", "feed", "lookup"):
            cycles.setdefault(o["epoch"], []).append(o)
    return [sum(o["s"] for o in c) for c in cycles.values()
            if len(c) == 3 and all(o["ok"] for o in c)]


def details(workload, res):
    """The workload's own metrics by name and unit (the detail line)."""
    ops = res["ops"]
    ok = lambda kind: [o for o in ops if o["kind"] == kind and o["ok"]]  # noqa: E731
    d = {}
    if workload == "tail_read":
        ep = ok("epoch")
        d["events_per_s"] = (sum(o["events"] for o in ep) / max(1e-9, sum(o["s"] for o in ep)), "1/s")
        d["commit_latency_s.p50"] = (_p50([o["s"] for o in ep]), "s")
        d["feed_s.p50"] = (_p50([o["s"] for o in ok("feed")]), "s")
        d["lookup_s.p50"] = (_p50([o["s"] for o in ok("lookup")]), "s")
        d["compact_s"] = (_p50([o["s"] for o in ok("compact")]), "s")
        d["space_amp"] = (res["space_amp"], "ratio")
        d["epochs"] = (len(ep), "count")
    else:
        qs = [o["s"] for o in ok("query")]
        d["suite_s"] = (sum(qs), "s")
        d["query_s.p50"] = (_p50(qs), "s")
        d["queries"] = (len(qs), "count")
    failed = sum(1 for o in ops if not o["ok"])
    d["error_rate"] = (failed / max(1, len(ops)), "ratio")
    return d


def e2e(workload, res):
    samples = units_of_work(workload, res["ops"])
    return {"setup_s": (res["boot_s"] + res["setup_s_median"], "s"),
            "op_s.p50": (_p50(samples), "s"),
            "op_s.mean": (_mean(samples), "s")}


TAIL_BREAKDOWN = ["commit_latency_s.p50", "feed_s.p50", "lookup_s.p50", "compact_s",
                  "space_amp"]


def _unit(name):
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "ratio" if name == "dedup.keys_per_event" else "count"


def per_layer(res, detail, overhead_pct):
    m = {k: (v, _unit(k)) for k, v in res["layers"].items()}
    for name in res["query_names"]:
        m.setdefault(f"query.{name}.s", (0.0, "s"))
    for k in TAIL_BREAKDOWN:
        m[f"tail.{k}"] = detail.get(k, (0.0, "ratio" if k == "space_amp" else "s"))
    m["trace.overhead_pct"] = (overhead_pct, "%")
    return m


# --------------------------------------------------------------------- main

def measure(args, work, trace, classpath, deadline):
    """Generate inputs, run the JVM, check results. Returns (res, cfg)."""
    t0 = time.time()
    wl = prepare(args.workload, args.seed, args.seconds, args.size, work)
    log(f"inputs written in {time.time() - t0:.1f}s")
    cfg = dict(workload=args.workload, root=str(work.path), trace=trace,
               out=str(work.path / f"result-{int(trace)}.json"),
               spans_out=str(STATE / "traces" / f"{args.workload}.json"),
               cores=len(os.sched_getaffinity(0)), setup_rounds=SETUP_ROUNDS,
               op_timeout_s=OP_TIMEOUT_S, num_buckets=NUM_BUCKETS, trigger_ms=TRIGGER_MS,
               **wl)
    t0 = time.time()
    res = run_jvm(work, cfg, classpath, deadline)
    log(f"JVM run finished in {time.time() - t0:.1f}s: boot {res['boot_s']:.1f}s, "
        f"set-up rounds {', '.join(f'{s:.1f}' for s in res['setup_rounds_s'])}s")
    t0 = time.time()
    if args.workload == "query_suite":
        check_queries(res, cfg, args.corrupt_reference)
    else:
        con = reference.connect(str(work.path / "tmp"))
        try:
            check_tail(res, cfg, con, args.corrupt_reference)
        finally:
            con.close()
    log(f"results checked in {time.time() - t0:.1f}s")
    log("ops: " + " ".join(f"{o['kind']}{o.get('epoch', '')}={o['s']:.2f}" for o in res["ops"]))
    for o in res["ops"]:
        if not o["ok"]:
            log(f"FAILED {o['kind']} {o.get('epoch', o.get('name', ''))}: {o['error']}")
    return res, cfg


def reset_inputs(work):
    for child in work.path.iterdir():
        if child.name != "tmp":
            shutil.rmtree(child, ignore_errors=True) if child.is_dir() else child.unlink()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=list(SIZES), default="full",
                    help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-reference", action="store_true",
                    help=argparse.SUPPRESS)  # self-test: the check must fail
    args = ap.parse_args(argv)
    classpath = build.classpath()  # compiles on the first run in a checkout
    t0 = time.time()
    work = WorkDir(args.workload)

    baseline_ops = []
    if args.trace:
        # the untraced baseline of the overhead: same code, seed and size,
        # measured in this invocation just before the traced run
        base, _ = measure(args, work, False, classpath, t0 + BASELINE_TIMEOUT_S)
        baseline_ops = base["ops"]
        reset_inputs(work)
    res, cfg = measure(args, work, bool(args.trace), classpath, t0 + RUN_TIMEOUT_S)
    checked = baseline_ops + res["ops"]
    attempted = len(checked)
    failed = sum(1 for o in checked if not o["ok"])
    detail = details(args.workload, res)
    metrics = e2e(args.workload, res)
    if args.trace:
        untraced = e2e(args.workload, base)["op_s.mean"][0]
        overhead_pct = 100.0 * (metrics["op_s.mean"][0] / untraced - 1.0) \
            if untraced > 0 else 0.0
        metrics = per_layer(res, detail, overhead_pct)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
