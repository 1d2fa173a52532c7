#!/usr/bin/env python3
"""Compare two directories of formatted query plans.

Each directory is a plan dump written by

    sbt "runMain graft.Probe <q_a,q_b|all> 0 <dir>"

(one `<name>.txt` per query, `<name>.ERR.txt` when the plan failed to
build). Before comparing, the ids Spark assigns per run are masked:

  - expression ids            `revenue#1234`        -> `revenue#N`
  - subquery / exchange ids   `[plan_id=57]`        -> `[plan_id=N]`
  - RDD ids in scan names     `MapPartitionsRDD[12]`-> `MapPartitionsRDD[N]`
  - object identity hashes    `@6f1e2a3b`           -> `@H`
  - lambda class names        `$$Lambda$6970/0x7f4c`-> `$$Lambda/0xN`
  - temp-file name suffixes   `/tmp/graft-index8178940511005098744` -> `/tmp/graft-indexN`

Everything else (operator tree, join strategies, pushed filters, output
columns, statistics) must match exactly. A restructuring of the planner
that claims "same plans" passes only when this tool prints nothing and
exits 0.

Usage:
    python3 tools/plan_diff.py <dirA> <dirB> [--names q_a,q_b]
    python3 tools/plan_diff.py --selftest

Exit status: 0 when every plan matches; 1 on any difference, on a query
present in only one directory, or on any `*.ERR.txt` in either.
"""
import difflib
import os
import re
import signal
import sys

MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"@[0-9a-f]{6,8}\b"), "@H"),
    (re.compile(r"Lambda\$?\d*/0x[0-9a-f]+"), "Lambda/0xN"),
    (re.compile(r"(?<=[A-Za-z_-])\d{10,}"), "N"),
]


def mask(text):
    for rx, rep in MASKS:
        text = rx.sub(rep, text)
    return text


def plans(d):
    """name -> file name for every plan in a dump directory."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".ERR.txt"):
            out[f[: -len(".ERR.txt")]] = f
        elif f.endswith(".txt"):
            out[f[: -len(".txt")]] = f
    return out


def compare(a, b, names=None):
    """Return the list of report lines; empty means identical."""
    pa, pb = plans(a), plans(b)
    keys = sorted(set(pa) | set(pb))
    if names:
        keys = [k for k in keys if k in names]
        missing = sorted(set(names) - set(keys))
        if missing:
            return [f"MISSING in both: {n}" for n in missing]
    report = []
    for k in keys:
        if k not in pa or k not in pb:
            report.append(f"ONLY in {a if k in pa else b}: {k}")
            continue
        errs = [os.path.join(d, p[k]) for d, p in ((a, pa), (b, pb))
                if p[k].endswith(".ERR.txt")]
        if errs:
            report.extend(f"ERR: {e}" for e in errs)
            continue
        with open(os.path.join(a, pa[k]), encoding="utf-8") as fa:
            ta = mask(fa.read()).splitlines()
        with open(os.path.join(b, pb[k]), encoding="utf-8") as fb:
            tb = mask(fb.read()).splitlines()
        if ta != tb:
            report.append(f"DIFF: {k}")
            report.extend(difflib.unified_diff(
                ta, tb, f"{a}/{pa[k]}", f"{b}/{pb[k]}", n=2, lineterm=""))
    return report


def selftest():
    import tempfile
    base = ("Project [revenue#12, __entry#7L]\n"
            "+- Subquery subquery#3, [plan_id=41]\n"
            "   +- Scan ExistingRDD MapPartitionsRDD[12] @1a2b3c4d\n"
            "Arguments: Ops$$$Lambda$6970/0x00007f4c897285b0@1a2b3c4d\n"
            "Location: InMemoryFileIndex [file:/tmp/idx8178940511005098744]\n")
    rerun = ("Project [revenue#98, __entry#55L]\n"
             "+- Subquery subquery#9, [plan_id=77]\n"
             "   +- Scan ExistingRDD MapPartitionsRDD[40] @5e6f7a8b\n"
             "Arguments: Ops$$$Lambda$6981/0x00007fdd6595a508@5e6f7a8b\n"
             "Location: InMemoryFileIndex [file:/tmp/idx4160626203649601791]\n")
    changed = base.replace("Project", "Sort")
    with tempfile.TemporaryDirectory() as t:
        dirs = {}
        for name, files in {
            "a": {"q.txt": base},
            "rerun": {"q.txt": rerun},
            "changed": {"q.txt": changed},
            "err": {"q.ERR.txt": "boom"},
            "extra": {"q.txt": base, "r.txt": base},
        }.items():
            d = os.path.join(t, name)
            os.mkdir(d)
            for f, body in files.items():
                with open(os.path.join(d, f), "w", encoding="utf-8") as fh:
                    fh.write(body)
            dirs[name] = d
        checks = [
            ("per-run ids masked", compare(dirs["a"], dirs["rerun"]), False),
            ("operator change caught", compare(dirs["a"], dirs["changed"]), True),
            ("ERR file caught", compare(dirs["a"], dirs["err"]), True),
            ("missing query caught", compare(dirs["a"], dirs["extra"]), True),
        ]
    ok = True
    for what, report, want in checks:
        good = bool(report) == want
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {what}")
    return 0 if ok else 1


def main(argv):
    if argv[1:] == ["--selftest"]:
        return selftest()
    args = argv[1:]
    names = None
    if "--names" in args:
        i = args.index("--names")
        names = set(args[i + 1].split(","))
        args = args[:i] + args[i + 2:]
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    report = compare(args[0], args[1], names)
    for line in report:
        print(line)
    return 1 if report else 0


if __name__ == "__main__":
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    sys.exit(main(sys.argv))
