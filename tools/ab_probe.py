#!/usr/bin/env python3
"""Interleaved two-jar A/B probe (VERDICT r12 item 3).

Settles whether the r12 sf1 movers (q_ann_ivf_mp 1.7-2x etc., in files
git-diff says did NOT change) are real regressions or ambient window
drift: build the r11-verdict and r12-verdict jars, then run the suspect
queries ALTERNATING jar-by-jar inside ONE window (the SKEWPROBE_r12
methodology — cross-window comparisons are confounded by the measured
1.1-1.2x host drift; see memory/bench-window-drift).

Each invocation is a fresh JVM running graft.Bench restricted to the
query list (cold + 2 warm runs per query, median reported), cwd'd to an
empty dir so no prior-round artifact triggers burst-retry logic.

  python3 tools/ab_probe.py <sf_dir> <out_json> <jarA_label>=<jarA> \
      <jarB_label>=<jarB> [reps] -- q1 q2 ...
"""
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# harness OUTPUT artifacts — excluded from the dirty scan, mirroring
# graft.Bench.isBenchArtifact (the r15 lesson: a retry loop's stub over
# a committed BENCH json must not dirty-mark later runs).  The match is
# the generic artifact NAMING CONVENTION (UPPERCASE_r<N>.json), not a
# family allowlist: every new family (BCFMODEPROBE, DRIFTAB in r16)
# re-created the dirty-stamp bug until enumerated (ADVICE r16).  Keep
# in sync with Bench.isBenchArtifact — one pattern, two runtimes.
import re
_ARTIFACT_RE = re.compile(r"[A-Z][A-Z0-9_]*_r\d+\.json")


def _porcelain_paths(status_out):
    """Paths out of `git status --porcelain`, mirroring
    graft.Bench.porcelainPaths: whitespace-tolerant prefix strip (not a
    fixed ln[3:] slice — the Scala side's r16 root cause), rename
    entries yield the NEW path, quoted paths are unwrapped."""
    paths = []
    for ln in status_out.splitlines():
        if not ln.strip():
            continue
        # " -> " only separates rename/copy rows (status R/C) — an
        # unquoted filename containing " -> " must not be split
        # (ADVICE r17; quoted non-ASCII paths stay octal-escaped and
        # conservatively read as dirty, same as the Scala side)
        code = ln[:2].strip()
        p = re.sub(r"^\s*\S{1,2}\s+", "", ln)
        if (" -> " in p) and ("R" in code or "C" in code):
            p = p.split(" -> ", 1)[1]
        if len(p) >= 2 and p[0] == '"' and p[-1] == '"':
            p = p[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        paths.append(p)
    return paths


def git_sha(repo=None):
    """HEAD sha + '-dirty' marker, mirroring graft.Bench.gitSha — the
    jar-lineage stamp VERDICT r15 asked the python probes to carry too
    (MEDIAPROBE was load-bearing for the stop-frame adjudication and
    recorded no lineage at all)."""
    repo = repo or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo,
                             capture_output=True, text=True).stdout.strip()
        if not re.fullmatch(r"[0-9a-f]{40}", sha):
            return "unknown"
        st = subprocess.run(["git", "status", "--porcelain",
                             "--untracked-files=no"], cwd=repo,
                            capture_output=True, text=True).stdout
        modified = [p for p in _porcelain_paths(st)
                    if not _ARTIFACT_RE.fullmatch(p)]
        return sha + "-dirty" if modified else sha
    except Exception:
        return "unknown"


def jar_sha256(jar):
    """sha256 of the measured jar file itself: pins the artifact to the
    exact bytes even when the repo state later moves."""
    import hashlib
    try:
        h = hashlib.sha256()
        with open(jar, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        return h.hexdigest()
    except Exception:
        return "unknown"


def lineage_env(jars):
    """The env block every probe artifact carries (VERDICT r15 item 2):
    repo git_sha (+-dirty) at measurement time plus per-jar sha256."""
    return {
        "git_sha": git_sha(),
        "jars_sha256": {os.path.basename(j): jar_sha256(j) for j in jars},
    }


def run_bench(jar, sf_dir, queries, workdir, main=None):
    # AB_PROBE_MAIN=graft.StreamBench extends the adjudicator to the
    # streaming suite (VERDICT r16 item 1); its artifact nests per-op
    # seconds under operators.*.sec, normalized to queries/probe below
    main = main or os.environ.get("AB_PROBE_MAIN", "graft.Bench")
    out = os.path.join(workdir, "bench_out.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "-cp", "/opt/spark/jars/*:" + jar,
        main,
    ] + queries
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_CPUS"] = env.get("SPARK_GRAFT_CPUS", "32")
    env["SPARK_GRAFT_BENCH_OUT"] = out
    t0 = time.time()
    r = subprocess.run(cmd, cwd=workdir, env=env,
                       capture_output=True, text=True, timeout=1800)
    wall = time.time() - t0
    if r.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(r.stdout[-2000:] + "\n" + r.stderr[-2000:] + "\n")
        raise RuntimeError(f"bench failed for {jar} (rc={r.returncode})")
    with open(out) as f:
        art = json.load(f)
    if "queries" not in art and "operators" in art:
        art = dict(art)
        art["queries"] = {k: v.get("sec") for k, v in art["operators"].items()}
        art["probe"] = {k: v.get("probe") for k, v in art["operators"].items()}
    return art, wall


def main():
    argv = sys.argv[1:]
    split = argv.index("--")
    head, queries = argv[:split], argv[split + 1:]
    sf_dir, out_json = head[0], head[1]
    jars = []  # (label, path)
    reps = 3
    for a in head[2:]:
        if "=" in a:
            label, path = a.split("=", 1)
            jars.append((label, path))
        else:
            reps = int(a)
    assert len(jars) == 2 and queries, "need two label=jar args and a query list"

    loadavg0 = open("/proc/loadavg").read().split()[0]
    meds = {label: {q: [] for q in queries} for label, _ in jars}
    probes = {label: [] for label, _ in jars}
    walls = []
    with tempfile.TemporaryDirectory(prefix="ab_probe_") as workdir:
        for rep in range(reps):
            # ABBA alternation: a load ramp within the window would
            # otherwise systematically penalize whichever jar always
            # runs second in its pair
            order = jars if rep % 2 == 0 else list(reversed(jars))
            for label, jar in order:
                art, wall = run_bench(jar, sf_dir, queries, workdir)
                walls.append(wall)
                # median of the per-query fixed-work CPU probes: the
                # invocation-level contention indicator
                pvals = sorted(v for v in art.get("probe", {}).values() if v > 0)
                probes[label].append(
                    round(pvals[len(pvals) // 2], 4) if pvals else None)
                for q in queries:
                    v = art.get("queries", {}).get(q)
                    if v is not None and v > 0:
                        meds[label][q].append(v)
                print(f"rep {rep + 1}/{reps} {label}: " + " ".join(
                    f"{q}={art.get('queries', {}).get(q)}" for q in queries),
                    flush=True)
    loadavg1 = open("/proc/loadavg").read().split()[0]

    (la, _), (lb, _) = jars
    per_query = {}
    for q in queries:
        a, b = meds[la][q], meds[lb][q]
        ma = statistics.median(a) if a else None
        mb = statistics.median(b) if b else None
        per_query[q] = {
            f"{la}_meds": a, f"{lb}_meds": b,
            f"{la}_med": ma, f"{lb}_med": mb,
            "ratio": (mb / ma) if (ma and mb) else None,
        }
    result = {
        "metric": "interleaved_ab_med_sec",
        "sf_dir": sf_dir,
        "reps": reps,
        "jars": {label: path for label, path in jars},
        "queries": per_query,
        "probe_medians": probes,
        "invocation_walls_sec": [round(w, 1) for w in walls],
        "loadavg_start": loadavg0,
        "loadavg_end": loadavg1,
        "env": lineage_env([path for _, path in jars]),
    }
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({q: per_query[q]["ratio"] for q in queries}))
    print("wrote", out_json)


if __name__ == "__main__":
    main()
