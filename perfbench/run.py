#!/usr/bin/env python3
"""graft benchmark: one seeded workload, timed end to end from a cold
session, with every result checked.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: query_mix, lake_ingest (see perfbench/README.md).

A run builds graft and the harness from source (once per source
state), generates the workload's inputs from the seed, and starts the
workload's fresh JVMs one after another (`JVMS`), each with its own
empty work directory, so none sees another's derived layouts. Each JVM
is a set-up sample; a `cold` JVM also makes a cold pass over the
workload's ops, and the last JVM makes the measured run: a cold pass,
then steady passes in a seeded order for `--seconds`. Each op result is
compared with its DuckDB oracle and every later result with the cold
one. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics of a
traced run (`--trace 1`). Details (tail percentiles and sample counts,
failures by name, the seed and input sizes, per-op reconciliation)
go to standard error and to .bench_build/perfbench/run/summary.json.
The exit code is 0 only when every result was correct.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("query_mix", "lake_ingest")
# The JVMs of one run, in launch order. setup_s is the median set-up of
# all of them and cold_pass_s the median of the cold passes they make. A
# lake_ingest cold pass is short and varies most, so three JVMs make one;
# a query_mix cold pass takes long enough that one fits the run's time.
JVMS = {"query_mix": ("setup", "run"), "lake_ingest": ("cold", "cold", "run")}
RUN_DEADLINE_S = 170
MODULES = ["Relational", "RelationalExt", "RelationalMore", "RelationalTpch",
           "Warehouse", "Insights", "Temporal", "Analytics", "Layout", "Dedup",
           "Similarity", "TextAnalysis", "Lake"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

_children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    stop_children()
    sys.exit(code)


def stop_children():
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


# ---------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256()
    for top in ("build.sbt", "src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compiles graft's library sources with the harness (sbt, offline)
    and returns the runtime classpath. Skipped when the sources are
    unchanged since the last build in this checkout."""
    stamp = source_stamp(root)
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness (sbt compile)")
    t0 = time.monotonic()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    cp = [ln.split("=", 1)[1] for ln in proc.stdout.splitlines()
          if ln.startswith("PERFBENCH_CLASSPATH=")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    log(f"built in {time.monotonic() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(f"{stamp}\n{cp[0]}\n")
    return cp[0]


# ---------------------------------------------------------------- JVMs

def java_cmd(cp, work, jvm_args):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens + ["-cp", cp, "perfbench.Main"] + jvm_args)


def launch(cmd, log_path, deadline):
    """Starts one JVM; returns (seconds from launch to PERFBENCH_READY,
    process). Standard error goes to `log_path`."""
    errf = open(log_path, "w")
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=errf, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    _children.append(p)
    ready = None
    for line in p.stdout:
        if line.strip() == "PERFBENCH_READY":
            ready = time.monotonic() - t0
            break
        if time.monotonic() > deadline:
            break
    if ready is None:
        stop_children()
        errf.close()
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("the JVM exited before its session was ready")
    return ready, p, errf


def finish(p, errf, log_path, deadline):
    out = ""
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop_children()
        fail("the measured run did not finish in time")
    finally:
        errf.close()
    if p.returncode != 0 or "PERFBENCH_DONE" not in out:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM failed with exit code {p.returncode}")


# ---------------------------------------------------------------- checks

def load_check_canon(root):
    """The canonical row form of tools/check.py, the repository's
    oracle comparison."""
    path = os.path.join(root, "tools", "check.py")
    if not os.path.exists(path):
        fail("tools/check.py is missing")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def oracle_check(root, data_dir, out_dir, oracle_sql, ops):
    """Compares each op's cold-pass result with its DuckDB oracle over
    the same generated files; ops without an oracle must return rows.
    Returns {op: error} for the ops that do not match."""
    import duckdb
    import pandas as pd
    canon = load_check_canon(root)
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    bad = {}
    for op in ops:
        d = os.path.join(out_dir, op)
        files = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")) \
            if os.path.isdir(d) else []
        if not files:
            bad[op] = "no verified result"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        if op not in oracle_sql:
            if len(spark_df) == 0:
                bad[op] = "rows-only check: no rows"
            continue
        try:
            duck_df = con.sql(oracle_sql[op]).df()
        except Exception as e:  # an oracle error is a failed check
            bad[op] = f"oracle error: {e}"
            continue
        a, b = canon(spark_df), canon(duck_df)
        if a != b:
            bad[op] = f"oracle mismatch: spark {len(a)} rows vs duckdb {len(b)} rows"
    return bad


def micros(ts):
    import pandas as pd
    return pd.to_datetime(ts, utc=True).dt.as_unit("us").astype("int64")


def lake_check(res, data_dir, out_dir):
    """Replays the lake_ingest event log against the generated batches,
    and for a run also its read-back of every version, the sink and the
    CDC state (a cold-only JVM has only its log). Returns a list of
    (call kind, step, error) and the CDC state's row count."""
    import pandas as pd
    import pyarrow.parquet as pq
    b = pq.read_table(os.path.join(data_dir, "ingest_batches.parquet")).to_pandas()
    ev = pq.read_table(os.path.join(data_dir, "stream_events.parquet")).to_pandas()
    per = b.groupby("batch").agg(n=("k", "size"), k=("k", "sum"), a=("amount_cents", "sum"))
    cum = per.cumsum()
    by_key = b.set_index("k")
    errs = []
    events = res["events"]
    version_batch = {}
    checkpoints = []  # (version, last batch committed before it)
    last_batch = -1
    scrubbed = False

    def cum_at(j):
        return [int(cum.loc[j, "n"]), int(cum.loc[j, "k"]), int(cum.loc[j, "a"])]

    for e in events:
        kind, step = e["kind"], e["step"]
        if "error" in e:
            errs.append((kind, step, e["error"]))
            continue
        if kind == "commit":
            version_batch[e["version"]] = e["batch"]
            last_batch = e["batch"]
        elif kind == "checkpoint" and e["version"] is not None:
            checkpoints.append((e["version"], last_batch))
        elif kind == "read_point":
            r = by_key.loc[e["key"]]
            want = [[int(e["key"]), int(r["user_id"]), int(r["amount_cents"]), r["note"]]]
            if e["rows"] != want:
                errs.append((kind, step, f"point lookup {e['key']}: {e['rows']} != {want}"))
        elif kind == "read_asof":
            if e["agg"] != cum_at(e["as_of_step"]):
                errs.append((kind, step, f"as-of {e['as_of_step']}: {e['agg']} != {cum_at(e['as_of_step'])}"))
        elif kind == "read_quota":
            rows = int(cum.loc[last_batch, "n"]) + sum(int(cum.loc[lb, "n"]) for _, lb in checkpoints)
            entries = 2 + (1 if scrubbed else 0)  # _log, data (and _scrub)
            if (e["entries"], e["quota_rows"]) != (entries, rows):
                errs.append((kind, step, f"quota {(e['entries'], e['quota_rows'])} != {(entries, rows)}"))
        elif kind == "read_footer":
            if e["footer_rows"] != int(cum.loc[last_batch, "n"]):
                errs.append((kind, step, f"footer rows {e['footer_rows']} != {int(cum.loc[last_batch, 'n'])}"))
        elif kind == "vacuum":
            if e["deleted"] != [f"data/orphan-{step}"]:
                errs.append((kind, step, f"vacuum deleted {e['deleted']}"))
        elif kind == "scrub":
            scrubbed = True
            if e["bad"] or not e["picked"]:
                errs.append((kind, step, f"scrub picked {e['picked']} bad {e['bad']}"))
    if "versions" not in res:
        return errs, 0
    # every committed version, read back by time travel
    ckpt_batch = dict(checkpoints)
    for v in res["versions"]:
        ver = v["version"]
        j = version_batch.get(ver, ckpt_batch.get(ver))
        if j is None:
            errs.append(("version", ver, "version not written by this run"))
        elif v["agg"] != cum_at(j):
            errs.append(("version", ver, f"snapshot({ver}) {v['agg']} != {cum_at(j)}"))
    if len(res["versions"]) != len(version_batch) + len(checkpoints):
        errs.append(("version", -1, "version count differs from commits + checkpoints"))
    # the sink: one version per micro-batch, with that micro-batch's rows
    pushed = sorted(e["mb"] for e in events if e["kind"] == "stream" and "error" not in e)
    sinks = res["sink_versions"]
    if len(sinks) != len(pushed):
        errs.append(("sink", -1, f"{len(sinks)} sink versions for {len(pushed)} micro-batches"))
    for s, mb in zip(sinks, pushed):
        m = ev[ev["mb"] == mb]
        if (s["rows"], s["sum_event_id"]) != (len(m), int(m["event_id"].sum())):
            errs.append(("sink", s["version"], f"sink version holds {s['rows']} rows, wanted {len(m)}"))
    # the CDC state: keep-latest purchase per user over every pushed event
    p = ev[ev["mb"].isin(pushed) & (ev["event_type"] == "purchase")]
    want = p.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
    st_dir = os.path.join(out_dir, "cdc_state")
    st = pd.concat([pd.read_parquet(os.path.join(st_dir, f)) for f in os.listdir(st_dir)
                    if f.endswith(".parquet")])

    def rows(user, value, event, ts):
        return sorted(zip(user.tolist(), value.tolist(), event.tolist(), micros(ts).tolist()))

    got = rows(st["user_id"], st["last_value"], st["last_event"], st["ts"])
    if got != rows(want["user_id"], want["value"], want["event_id"], want["ts"]):
        errs.append(("cdc", -1, f"CDC state has {len(got)} users, keep-latest wants {len(want)}"))
    return errs, len(st)


# ---------------------------------------------------------------- metrics

def metric(value, unit):
    return {"value": value, "unit": unit}


def tail_of(xs, label, details):
    v, pct, beyond = stats.tail(xs)
    details[f"{label}_tail"] = {"percentile": pct, "samples": len(xs), "beyond": beyond}
    return v


LAKE_OPS = ("commit", "read_point", "read_asof", "read_quota", "read_footer", "stream")


def steady_events(res):
    """lake_ingest calls made after the cold step and the warm-up steps."""
    return [e for e in res["events"] if e["step"] > res["warmup_steps"]]


def steady_latencies(res, workload):
    """Seconds of every completed steady-pass op call (build + action
    for a query op; the call's wall time for a lake_ingest op)."""
    if workload == "lake_ingest":
        return [e["wall_s"] for e in steady_events(res)
                if e["kind"] in LAKE_OPS and "error" not in e]
    return [s["build_s"] + s["action_s"] for s in res["samples"]
            if s["pass"] > 0 and "build_s" in s]


def cold_pass_of(res, workload):
    """Seconds the cold pass spent in graft: the sum of its op calls
    (query_mix) or the wall time of step 0 (lake_ingest)."""
    if workload == "lake_ingest":
        return res["cold_pass_s"]
    return sum(s["build_s"] + s["action_s"] for s in res["samples"]
               if s["pass"] == 0 and "build_s" in s)


def end_to_end(res, workload, setup, cold, details):
    lat = steady_latencies(res, workload)
    if not lat:
        fail("no steady-pass op completed", 1)
    details["latency_samples"] = len(lat)
    details["latency_tail_s"] = tail_of(lat, "latency", details)
    return {
        "setup_s": metric(stats.median(setup), "s"),
        "cold_pass_s": metric(stats.median(cold), "s"),
        "throughput_ops_per_s": metric(len(lat) / res["steady_wall_s"], "ops/s"),
        "latency_p50_s": metric(stats.median(lat), "s"),
    }


def lake_layer(res, details, state_rows):
    """The lake_ingest user-facing figures kept with the per-layer set."""
    steady = [e for e in steady_events(res) if "error" not in e]

    def walls(pred):
        return [e["wall_s"] for e in steady if pred(e["kind"])] or [0.0]

    commits = walls(lambda k: k == "commit")
    reads = walls(lambda k: k.startswith("read_"))
    committed = sum(1 for e in steady if e["kind"] == "commit") * res["batch_rows"]
    return {
        "ingest_rows_per_s": metric(committed / res["steady_wall_s"], "rows/s"),
        "commit_p50_s": metric(stats.median(commits), "s"),
        "commit_tail_s": metric(tail_of(commits, "commit", details), "s"),
        "read_p50_s": metric(stats.median(reads), "s"),
        "read_tail_s": metric(tail_of(reads, "read", details), "s"),
        "stream_batch_p50_s": metric(stats.median(walls(lambda k: k == "stream")), "s"),
        "space_amp": metric(res["table_bytes"] / max(1, res["live_bytes"]), "ratio"),
        "StreamingOps.state_rows": metric(state_rows, "count"),
        "CommitLog.versions": metric(len(res["versions"]), "count"),
        "CommitLog.data_files": metric(res["data_files"], "count"),
    }


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(res, workload, cores, details):
    """Per-layer metrics of a traced run. Means are per call over the
    traced steady calls (odd passes); the even passes run untraced and
    give the tracing overhead."""
    calls = {c["id"]: c for c in res["trace"]["calls"]}
    kids = {}
    for c in calls.values():
        kids.setdefault(c["parent"], []).append(c)

    def child_sum(cid, name):
        total = 0.0
        for k in kids.get(cid, []):
            total += k["wall_s"] if k["name"] == name else child_sum(k["id"], name)
        return total

    def child(cid, name):
        for k in kids.get(cid, []):
            if k["name"] == name:
                return k
            found = child(k["id"], name)
            if found:
                return found
        return None

    m = {"Tables.load_s": metric(res["tables_load_s"], "s"),
         "Tables.load_calls": metric(res["tables_load_calls"], "count")}
    for mod in MODULES:
        m[f"{mod}.build_s"] = metric(0.0, "s")
        m[f"{mod}.action_s"] = metric(0.0, "s")
        m[f"{mod}.jobs"] = metric(0.0, "count")
    recon = []
    tops = []  # (top-level call, result rows, plan s, files read, residual s)
    overhead = {}

    if workload == "query_mix":
        steady = [s for s in res["samples"] if s["pass"] > 0 and "build_s" in s]
        by_mod = {}
        for s in steady:
            if "call" in s:
                c = calls[s["call"]]
                act = child(c["id"], f"{s['module']}.action")
                job_act = act["job_wall_s"] if act else 0.0
                build = s["build_s"]
                plan = s.get("plan_s", 0.0)
                wall = c["wall_s"]
                resid = wall - build - plan - job_act
                recon.append({"op": s["op"], "pass": s["pass"], "wall_s": wall, "build_s": build,
                              "plan_s": plan, "job_wall_s": job_act, "residual_s": resid})
                tops.append((c, s["rows"], plan, s.get("files_read", 0), resid))
                by_mod.setdefault(s["module"], []).append((s, c))
            overhead.setdefault(s["op"], {True: [], False: []})[
                "call" in s].append(s["build_s"] + s["action_s"])
        for mod, xs in by_mod.items():
            if mod in MODULES:
                m[f"{mod}.build_s"] = metric(mean([s["build_s"] for s, _ in xs]), "s")
                m[f"{mod}.action_s"] = metric(mean([s["action_s"] for s, _ in xs]), "s")
                m[f"{mod}.jobs"] = metric(mean([c["jobs"] for _, c in xs]), "count")
        tr = res["trace"]
        m["cache.persisted_rdds_max"] = metric(tr["cache_persisted_rdds_max"], "count")
        m["cache.storage_mb_max"] = metric(tr["cache_storage_bytes_max"] / 2 ** 20, "MB")
        m["cache.leaked_rdds"] = metric(tr["cache_leaked_rdds"], "count")
        built = tr["layout_built"]
        m["layout.dirs_built"] = metric(len(built), "count")
        m["layout.bytes_built"] = metric(sum(b["bytes"] for b in built), "bytes")
        cold = {s["op"]: s["build_s"] + s["action_s"] for s in res["samples"]
                if s["pass"] == 0 and "build_s" in s}
        steady_med = {op: stats.median(v[True] + v[False]) for op, v in overhead.items()}
        build_ops = {b["op"] for b in built}
        m["layout.build_s"] = metric(sum(max(0.0, cold[op] - steady_med[op])
                                         for op in build_ops if op in cold and op in steady_med), "s")
    else:
        for e in steady_events(res):
            if "error" not in e:
                overhead.setdefault(e["kind"], {True: [], False: []})["call" in e].append(e["wall_s"])
        traced = [e for e in steady_events(res) if "call" in e and "error" not in e]
        for e in traced:
            c = calls[e["call"]]
            plan = child_sum(c["id"], "spark.plan")
            resid = c["wall_s"] - plan - c["job_wall_s"]
            recon.append({"op": e["kind"], "step": e["step"], "wall_s": c["wall_s"], "build_s": 0.0,
                          "plan_s": plan, "job_wall_s": c["job_wall_s"], "residual_s": resid})
            rows = len(e.get("rows", [])) or (1 if e["kind"].startswith("read_") else 0)
            tops.append((c, rows, plan, 0, resid))

    lake_steady = steady_events(res) if workload == "lake_ingest" else []
    steady_calls = {e["call"] for e in lake_steady if "call" in e}

    def spans(name):
        """Steady-step spans of one name (lake_ingest)."""
        def root(c):
            return c if c["parent"] < 0 else root(calls[c["parent"]])
        return [c for c in calls.values() if c["name"] == name and root(c)["id"] in steady_calls]

    def walls(kind, pred=lambda e: True):
        return [e["wall_s"] for e in lake_steady
                if e["kind"] == kind and "error" not in e and pred(e)]

    commits = spans("CommitLog.writeCommit")
    ckpt = walls("checkpoint", lambda e: e.get("version") is not None)
    ceremonies = spans("Namespace.quotaUsage") + spans("Durability.scrubCycle") + \
        spans("Lake.footerRows") + spans("CommitLog.vacuumOrphans")
    m.update({
        "CommitLog.write_s": metric(mean([c["job_wall_s"] for c in commits]), "s"),
        "CommitLog.commit_s": metric(mean([c["wall_s"] - c["job_wall_s"] for c in commits]), "s"),
        "CommitLog.snapshot_s": metric(mean([c["wall_s"] for c in spans("CommitLog.snapshot")]), "s"),
        "CommitLog.checkpoint_s": metric(sum(ckpt), "s"),
        "CommitLog.checkpoints": metric(len(ckpt), "count"),
        "CommitLog.vacuum_s": metric(mean(walls("vacuum")), "s"),
        "StreamingOps.batch_s": metric(mean(walls("stream")), "s"),
        "StreamingOps.batches": metric(len(walls("stream")), "count"),
        "Namespace.quota_usage_s": metric(mean(walls("read_quota")), "s"),
        "Durability.scrub_s": metric(mean(walls("scrub")), "s"),
        "Lake.footer_rows_s": metric(mean(walls("read_footer")), "s"),
        "ceremony.driver_fs_s": metric(mean([c["wall_s"] - c["job_wall_s"] for c in ceremonies]), "s"),
    })
    for k in ("CommitLog.versions", "CommitLog.data_files", "StreamingOps.state_rows"):
        m.setdefault(k, metric(0, "count"))
    for k in ("cache.persisted_rdds_max", "cache.leaked_rdds", "layout.dirs_built"):
        m.setdefault(k, metric(0, "count"))
    m.setdefault("cache.storage_mb_max", metric(0.0, "MB"))
    m.setdefault("layout.bytes_built", metric(0, "bytes"))
    m.setdefault("layout.build_s", metric(0.0, "s"))

    cs = [t[0] for t in tops]
    wall = sum(c["wall_s"] for c in cs)
    task_s = sum(c["task_s"] for c in cs)
    rows = sum(t[1] for t in tops)
    m.update({
        "spark.plan_s": metric(mean([t[2] for t in tops]), "s"),
        "spark.jobs": metric(mean([c["jobs"] for c in cs]), "count"),
        "spark.stages": metric(mean([c["stages"] for c in cs]), "count"),
        "spark.tasks": metric(mean([c["tasks"] for c in cs]), "count"),
        "spark.task_s": metric(mean([c["task_s"] for c in cs]), "s"),
        "spark.task_cpu_s": metric(mean([c["task_cpu_s"] for c in cs]), "s"),
        "spark.gc_s": metric(mean([c["gc_s"] for c in cs]), "s"),
        "spark.queue_s": metric(mean([c["queue_s"] for c in cs]), "s"),
        "spark.scan_bytes": metric(mean([c["scan_bytes"] for c in cs]), "bytes"),
        "spark.files_read": metric(mean([t[3] for t in tops]), "count"),
        "spark.shuffle_write_bytes": metric(mean([c["shuffle_write_bytes"] for c in cs]), "bytes"),
        "spark.shuffle_read_bytes": metric(mean([c["shuffle_read_bytes"] for c in cs]), "bytes"),
        "spark.spill_bytes": metric(mean([c["spill_bytes"] for c in cs]), "bytes"),
        "spark.parallel_eff": metric(task_s / (wall * cores) if wall else 0.0, "ratio"),
        "spark.driver_residual_s": metric(mean([t[4] for t in tops]), "s"),
        "spark.rows_examined_per_result": metric(
            sum(c["records_read"] for c in cs) / rows if rows else 0.0, "ratio"),
    })
    ratios = [stats.median(v[True]) / stats.median(v[False]) for v in overhead.values()
              if v[True] and v[False]]
    m["trace.overhead_pct"] = metric((stats.median(ratios) - 1.0) * 100.0 if ratios else 0.0, "%")
    details["reconciliation"] = recon
    details["trace_overhead_ops"] = len(ratios)
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    trace = a.trace == "1"

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)
    t_run = time.monotonic()
    deadline = t_run + RUN_DEADLINE_S

    # fresh run directory; each JVM works in its own subdirectory with
    # its own derived layouts (scratch), results and temporary files
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "logs"))
    data_dir = os.path.join(work, "input", a.workload)
    shutil.rmtree(data_dir, ignore_errors=True)
    t0 = time.monotonic()
    inputs = gen.generate(a.workload, a.seed, data_dir)
    gen_s = time.monotonic() - t0

    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    setup, results, jvm_wall = [], [], []
    for i, mode in enumerate(JVMS[a.workload]):
        t0 = time.monotonic()
        name = f"{i}-{mode}"
        jvm_dir = os.path.join(run_dir, name)
        for d in ("scratch", "out", "tmp", "spark-local"):
            os.makedirs(os.path.join(jvm_dir, d))
        result_path = os.path.join(jvm_dir, "result.json")
        args = ["--mode", mode, "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace if mode == "run" else "0",
                "--data", data_dir, "--work", jvm_dir, "--out", result_path,
                "--cores", str(cores)]
        lp = os.path.join(run_dir, "logs", f"{name}.log")
        s, p, errf = launch(java_cmd(cp, jvm_dir, args), lp, deadline)
        setup.append(s)
        if mode == "setup":
            tail = p.communicate(timeout=60)[0]
            errf.close()
            if p.returncode != 0:
                fail(f"set-up JVM failed with exit code {p.returncode}: {tail[-200:]}")
            jvm_wall.append(time.monotonic() - t0)
            continue
        finish(p, errf, lp, deadline)
        jvm_wall.append(time.monotonic() - t0)
        with open(result_path) as f:
            results.append((name, jvm_dir, json.load(f)))
    res = results[-1][2]

    details = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": trace,
               "cores": cores, "inputs": inputs, "generate_s": gen_s, "setup_samples": setup,
               "jvm_wall_s": jvm_wall}
    # every JVM's results are checked, the cold-only ones too
    failures, attempted, failed, ops_failed = [], 0, 0, set()
    for name, jvm_dir, r in results:
        out_dir = os.path.join(jvm_dir, "out")
        if a.workload == "lake_ingest":
            errs, state_rows = lake_check(r, data_dir, out_dir)
            failures += [f"{name}: {k} step {st}: {e}" for k, st, e in errs]
            calls = LAKE_OPS + ("checkpoint", "vacuum", "scrub")
            attempted += sum(1 for e in r["events"] if e["kind"] in calls)
            failed += len({(k, st) for k, st, _ in errs if k in calls}) + \
                sum(1 for k, _, _ in errs if k in ("version", "sink", "cdc"))
        else:
            ops = sorted({x["op"] for x in r["samples"]})
            t0 = time.monotonic()
            bad = oracle_check(root, data_dir, out_dir, r["oracle_sql"], ops)
            details[f"oracle_check_s.{name}"] = time.monotonic() - t0
            attempted += len(r["samples"])
            for x in r["samples"]:
                if not x.get("ok") or x["op"] in bad:
                    failed += 1
                    ops_failed.add(x["op"])
                    failures.append(f"{name}: {x['op']} pass {x['pass']}: "
                                    f"{x.get('error') or bad.get(x['op'])}")
    if a.workload == "query_mix":
        details["ops_failed"] = sorted(ops_failed)
    cold = [cold_pass_of(r, a.workload) for _, _, r in results]
    details["cold_pass_samples"] = cold
    details["untimed_s"] = res.get("untimed_s")
    metrics = end_to_end(res, a.workload, setup, cold, details)
    details["failed_op_ratio"] = failed / max(1, attempted)
    details["failures"] = failures
    details["end_to_end"] = metrics
    if trace:
        metrics = layer_metrics(res, a.workload, cores, details)
        metrics["latency_tail_s"] = metric(details["latency_tail_s"], "s")
        metrics["peak_rss_mb"] = metric(res["rss_hwm_kb"] / 1024.0, "MB")
        metrics["heap_retained_mb"] = metric(res["heap_retained_bytes"] / 2 ** 20, "MB")
        if a.workload == "lake_ingest":
            metrics.update(lake_layer(res, details, state_rows))
        else:
            for k in ("ingest_rows_per_s", "commit_p50_s", "commit_tail_s", "read_p50_s",
                      "read_tail_s", "stream_batch_p50_s", "space_amp"):
                metrics[k] = metric(0.0, {"ingest_rows_per_s": "rows/s", "space_amp": "ratio"}.get(k, "s"))
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            run_id = f"{a.workload}-{a.seed}"
            for c in res["trace"]["calls"]:
                f.write(json.dumps({"run": run_id, "id": c["id"], "name": c["name"],
                                    "parent": c["parent"], "start_ms": c["start_ms"],
                                    "end_ms": c["end_ms"]}) + "\n")
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(details, f, indent=1)
    for line in failures[:20]:
        log(f"FAILED {line}")
    log(json.dumps({k: v for k, v in details.items() if k not in ("reconciliation", "end_to_end")}))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    finally:
        stop_children()
