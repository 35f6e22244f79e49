"""The benchmark's one command.

    python3 perfbench/run.py --workload feed_export --seed 1 --seconds 10 --trace 0

Builds the program from source (``perfbench/build.py``), generates the
workload's inputs and truth from the seed (``perfbench/gen.py``), runs the
JVM harness (``perfbench.Harness``) for ``--seconds`` of timed units,
checks every output, and prints one JSON object as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see BENCHMARK.json).  The full record (host stamp,
samples, checks, per-unit layer rows, spans) is written to
``<build dir>/perfbench/results/<workload>-seed<seed>-trace<t>.json``.
Exits non-zero when any check fails or nothing could be measured.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("feed_export", "gate_mix")
HEAP = "2g"
DEADLINE_S = 165  # generation + harness; leaves time for the checks after it

# gate_mix's fixed gate list, run in this order each pass. Chosen from
# measured per-gate construct / plan / execute times (traced, 4 cores, the
# generated tables): of the subsets of at most ~4 s a pass that hold
# q_admit_funnel, a stream face and a clickstream gate, the one whose time
# shares come closest to those of a 30-gate clickstream, stream and
# curation mix (construct 67 / plan 2 / execute 32 % against 68 / 1 / 32 %).
GATES = sorted("""
q_admit_funnel q_pretrain_corpus q_stream_quarantine q_visitors_raw
""".split())

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def source_identity():
    """The git commit when the checkout is a git repository, and always
    the SHA-256 stamp of the compiled sources."""
    commit = None
    if os.path.isdir(os.path.join(build.ROOT, ".git")):
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"git_commit": commit, "source_stamp": build.stamp(build.sources())}


def input_hits(workload, truth):
    """The input size the throughput metric divides by: feed lines for
    feed_export, events-table rows (the clickstream gates' hit input) for
    gate_mix."""
    return {"feed_export": truth.get("input_rows"),
            "gate_mix": truth.get("events")}[workload]


def oracle_check(input_dir, oracle_dir):
    """Compares each dumped gate output with its DuckDB oracle SQL over
    the same generated tables: sorted columns, sorted rows, values as
    strings (floats at full repr).  Returns the list of mismatches."""
    import duckdb
    import glob
    import pandas as pd

    def normalize(df):
        df = df.reindex(sorted(df.columns), axis=1)
        out = pd.DataFrame({c: (df[c].astype(str) if df[c].dtype == object
                                else df[c].map(repr)) for c in df.columns})
        return out.sort_values(by=list(out.columns)).reset_index(drop=True)

    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    errors = []
    for gate, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(oracle_dir, gate, "*.parquet"))
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            duck_df = con.execute(sql).df()
        except Exception as e:  # a failing oracle query is a failed check
            errors.append(f"{gate}: {type(e).__name__}: {e}"[:300])
            continue
        if spark_df is None:
            errors.append(f"{gate}: no output")
            continue
        s, d = normalize(spark_df), normalize(duck_df)
        if list(s.columns) != list(d.columns):
            errors.append(f"{gate}: columns {list(s.columns)} != {list(d.columns)}")
        elif len(s) != len(d):
            errors.append(f"{gate}: rows {len(s)} != {len(d)}")
        elif not s.equals(d):
            errors.append(f"{gate}: {int((s != d).any(axis=1).sum())} rows differ")
    return errors, sorted(oracle)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    log = sys.stderr
    build.build(log=log)
    t0 = time.monotonic()
    base = os.path.join(build.build_dir(), "perfbench")
    work = os.path.join(base, "work", args.workload)
    inputs = os.path.join(base, "inputs", args.workload)
    for d in (work, inputs):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    truth = gen.generate(args.workload, args.seed, inputs)
    n_cores = cores()

    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Harness", args.workload,
            inputs, work, str(args.seconds), str(args.trace), str(n_cores), ",".join(GATES)]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    rec_path = os.path.join(work, "record.jsonl")
    records = []
    if os.path.exists(rec_path):
        with open(rec_path) as fh:
            records = [json.loads(line) for line in fh if line.strip()]
    if not any(r["k"] == "memory" for r in records):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        sys.exit(f"harness exited with {code} before finishing:\n{tail}")

    units = [r for r in records if r["k"] == "unit"]
    errors = [f"unit {u['i']}: {e}" for u in units for e in u["errors"]]
    errors += [c["error"] for c in records if c["k"] == "check"]
    failed = sum(1 for u in units if not u["ok"])
    checked = []
    if args.workload == "gate_mix":
        oracle_errors, checked = oracle_check(inputs, os.path.join(work, "oracle"))
        if oracle_errors:
            errors += oracle_errors
            failed = len(units)  # every pass reproduced the checked outputs
    host = next(r for r in records if r["k"] == "host")
    e2e, samples = metrics.end_to_end(records, input_hits(args.workload, truth))
    result = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "heap": HEAP,
              "host": host, "source": source_identity(),
              "truth": truth,
              "samples": samples, "errors": errors, "oracle_checked": checked,
              "error_rate": failed / len(units) if units else 1.0}
    if args.trace:
        layers, per_unit = metrics.per_layer(args.workload, records, n_cores)
        result["per_unit"] = per_unit
        out_metrics = {name: {"value": layers[name], "unit": unit}
                       for name, unit in metrics.PER_LAYER}
        # every span of the traced units; gate rows have parent "gate"
        result["spans"] = [r for r in records if r["k"] == "span"]
    else:
        out_metrics = {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in e2e.items()}
    result["metrics"] = out_metrics
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    for e in errors[:20]:
        print(f"[perfbench] check failed: {e}", file=log)
    correct = not errors and code == 0
    print(json.dumps({"correct": correct, "attempted": len(units), "failed": failed,
                      "metrics": out_metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
